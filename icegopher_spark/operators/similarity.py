"""Similarity search over embedding columns (array<float>).

Scale design:
  * Brute-force top-k broadcasts the (small) query set and computes
    cosine with JVM-side zip_with/aggregate — a narrow map over the
    corpus followed by a top-k-per-query window on (query, score). At
    100 TB the corpus side never shuffles its vectors: we reduce to
    (query_id, vec_id, score) triples before the window.
  * The LSH variant buckets vectors by sign bits against fixed random
    hyperplanes (deterministic, seeded) so candidate sets shrink by
    ~2^planes; recall is traded via number of tables.

[X] extension operators (SURVEY.md §2.9); no counterpart in the
reference, which has no data plane.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import session_cache


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double — deterministic order, so
    results are bit-reproducible across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with both norms precomputed in upstream projections.

    The higher-order-function folds (``aggregate``/``zip_with``/
    ``transform``) are CodegenFallback — interpreted per row — so a
    pair join that calls ``cosine`` pays THREE interpreted folds per
    candidate pair. Hoisting ``l2_norm`` to the per-vector side of the
    join (guide §2.3 "project before the exchange" / §1.2 per-task
    work) evaluates each norm once per VECTOR instead of once per
    PAIR, leaving one dot fold per pair. Bit-identical: ``l2_norm`` is
    a pure function of the vector, and the divide/multiply tree is
    unchanged (``dot / (na * nb)`` with the same operand order)."""
    return dot(a, b) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    queries: (query_id, embedding). Broadcast-joined against the corpus;
    ties broken by corpus id for determinism. Self-matches excluded when
    ids collide.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    scored = (
        # norms hoisted below the join: |corpus| + |queries| interpreted
        # folds instead of 2·|corpus|·|queries| (cosine_hoisted)
        corpus.select(F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_cn"))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_hoisted(
                    F.col(vec_col), F.col("_qvec"), F.col("_cn"), F.col("_qn")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def neardup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold — exact O(n²)
    baseline; use lsh_topk for the scale path."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_hoisted(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 48,
    band_size: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH candidates + exact
    cosine verification — the scale path that replaces
    ``neardup_pairs_exact``'s O(n²) BNLJ on the gate.

    12 bands of 4 sign bits: a pair at cosine ≥ 0.9 (angle ≤ 25.8°,
    per-plane disagree prob ≤ 0.144) misses all bands with prob
    (1-(1-0.144)⁴)¹² ≈ 1%, and far less above the threshold. Candidate
    pairs band-join on 8-byte (band, key) ints, then verify with exact
    cosine through plain shuffle joins on id — no broadcast hints, no
    cross join; AQE picks broadcast when a side is genuinely small."""
    planes = _hyperplanes(dim, n_planes)
    entries = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(band_key_arrays(vec_col, planes, band_size)).alias("band", "key"),
    )
    a, b = entries.alias("a"), entries.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_hoisted(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure Python so the
    plan is reproducible without numpy RNG state)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            # xorshift64* generator — deterministic, platform-independent
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            u = ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) / 2**64
            row.append(u * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


KMEANS_SAMPLE_CAP = 100_000


def _kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_lists: int,
    seed: int,
    sample_cap: int = KMEANS_SAMPLE_CAP,
    iters: int = 10,
    probe_rows: list | None = None,
) -> list[list[float]]:
    """Coarse-quantizer centroids from a seeded SAMPLE of the corpus,
    fit driver-side with a deterministic numpy Lloyd's loop.

    Two scale/stability decisions:
      * A k-means fit over the full corpus is a multi-pass scan of
        every vector — at 100 TB that dwarfs the search itself.
        ``sample_cap`` vectors are ample to place n_lists ≪ cap
        centroids, so we sample to the cap and fit on that (the
        classic IVF recipe: quantizer on a sample, centroids
        broadcast). The capped sample (~50 MB at 100k × 64 doubles) is
        the ONLY thing collected.
      * MLlib's kmeans|| init samples per-partition, so its centroids
        change with the session's partitioning — a golden-value recall
        gate would flap across harness configs. The same trap hides in
        ``DataFrame.sample``: its seed is combined with the partition
        index, so the selected rows shift with parallelism. We instead
        keep rows whose content hash falls under a threshold
        (``xxhash64(vector, seed) % M < M·cap/n``) — a pure function of
        the data, invariant to partitioning — then sort canonically and
        init with a seeded xorshift pick, so the centroids depend only
        on (data, seed), never on partitioning or parallelism."""
    import numpy as np

    # null embeddings can't train (tuple(None) below) and an empty
    # corpus would IndexError at the first centroid pick — guard both
    # with clear errors (r6 review)
    train_df = corpus.select(F.col(vec_col).cast("array<double>").alias("v")).where(
        F.col("v").isNotNull()
    )
    # Under-cap probe (r13, guide §5 "the driver should do almost no
    # data work" — but also no REDUNDANT jobs): a corpus at or under
    # the cap needs no count and no hash filter — limit(cap+1) detects
    # overflow while collecting the (complete) sample in one early-
    # terminating job. The sample is sorted below, so the collected
    # order is irrelevant and the centroids are bit-identical to the
    # count-first path. Over-cap corpora fall back to the exact
    # count + content-hash keep filter unchanged.
    # ``probe_rows`` (r13 batch 8): a caller that already collected the
    # ENTIRE corpus projection ``cast(vec_col as array<double>) AS v``
    # (nulls included, ≤ sample_cap rows — semdedup's fused count+probe)
    # hands it in so the trainer pays NO Spark job at all. The non-null
    # subset of a complete corpus is exactly what the under-cap probe
    # below collects, and the sample is sorted before use — centroids
    # are bit-identical to the collect-here path.
    if probe_rows is not None:
        probe = [r for r in probe_rows if r["v"] is not None]
        if len(probe) > sample_cap:
            raise ValueError(
                "probe_rows must be a complete under-cap corpus "
                f"projection (≤ {sample_cap} non-null rows)"
            )
    else:
        probe = train_df.limit(sample_cap + 1).collect()
    if len(probe) == 0:
        raise ValueError("cannot train IVF centroids: corpus has no non-null vectors")
    if len(probe) > sample_cap:
        n = train_df.count()
        # wide modulus: at mod=1e6 the keep fraction floored at 1/mod,
        # so corpora past mod*cap rows collected n/1e6 rows (driver OOM
        # at the documented 100 TB posture — r8 review wave 5)
        mod = 2**31
        keep = max(1, int(mod * sample_cap / n))
        train_df = train_df.where(
            F.pmod(F.xxhash64(F.col("v"), F.lit(seed)), F.lit(mod)) < F.lit(keep)
        )
        probe = train_df.collect()
    sample = sorted(tuple(r["v"]) for r in probe)
    if len(sample) > 2 * sample_cap:
        # deterministic stride slice as the final backstop: the hash
        # filter's keep floor (1/mod) can still overshoot on extreme
        # corpora; a sorted stride keeps the sample spread and exact
        step = len(sample) // sample_cap
        sample = sample[::step][:sample_cap]
    x = np.asarray(sample, dtype=np.float64)
    k = min(n_lists, len(x))

    # deterministic kmeans++: seeded xorshift64* uniforms drive the
    # D²-weighted picks (platform-independent, no numpy RNG state)
    state = seed or 1

    def _next_u() -> float:
        nonlocal state
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        return ((state * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF) / 2**64

    first = int(_next_u() * len(x))
    centers = [first]
    d2min = ((x - x[first]) ** 2).sum(axis=1)
    while len(centers) < k:
        total = float(d2min.sum())
        if total <= 0.0:
            break
        target = _next_u() * total
        i = int(np.searchsorted(np.cumsum(d2min), target))
        i = min(i, len(x) - 1)
        centers.append(i)
        d2min = np.minimum(d2min, ((x - x[i]) ** 2).sum(axis=1))
    c = x[centers].copy()
    k = len(centers)

    for _ in range(iters):
        # argmin ||x - c||² = argmin (|c|² - 2 x·c); n×k matmul, no n×k×d blow-up
        d2 = (c * c).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return [[float(v) for v in row] for row in c]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 6,  # measured recall@5 ≈ 0.78 on the synthetic
    # embeddings (near-uniform vectors are ANN's worst case; clustered
    # real embeddings probe far fewer cells for the same recall)
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    corpus into ``n_lists`` cells; each query probes its ``n_probe``
    nearest centroids and exact-reranks only those cells.

    Scale path: centroids train on a seeded sample capped at 100k
    vectors (``_kmeans_centroids``), assignment is a narrow map against
    broadcast centroids, and the corpus can be written bucketed by
    ``cell`` so a query touches n_probe/n_lists of the data. Recall is
    tunable via n_probe.
    """
    from pyspark.sql import Window

    centroids = _kmeans_centroids(corpus, vec_col, n_lists, seed)

    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.element_at(nearest_cells_arrow(F.col(vec_col), centroids, 1), 1).alias("cell"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.explode(nearest_cells_arrow(F.col(vec_col), centroids, n_probe)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_hoisted(
                    F.col(vec_col), F.col("_qvec"), F.col("_cn"), F.col("_qn")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def nearest_cells_arrow(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """array<int> of the ``n`` nearest centroid ids by cosine distance —
    one Arrow-batched numpy pass for ALL centroids.

    Replaces the round-4 ``F.array(F.struct(F.lit(...)×dim))``
    construction whose plan carried O(n_lists × dim) literal expression
    nodes (analyzer/codegen blowup at production n_lists=4096, dim=768;
    VERDICT r4 item 3). Plan size is now one UDF node regardless of
    n_lists — the centroid matrix ships once per executor inside the
    serialized UDF.

    Bit-compatibility: the dot/norm accumulations run in the SAME
    sequential index order as the codegen ``cosine()`` fold
    (acc = (acc + x_j·y_j), all in double), so scores — and therefore
    probe-cell choices and the pinned recall gates — are bit-identical
    to the literal-plan version (pinned by
    test_similarity_plan::test_nearest_cells_arrow_bitmatch). Ties break
    by centroid id via stable argsort, matching
    ``array_sort(struct(d, cell))``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # k × d
    k, d = C.shape
    cn = np.zeros(k)
    for j in range(d):  # sequential fold order == l2_norm()'s aggregate
        cn = cn + C[:, j] * C[:, j]
    cn = np.sqrt(cn)
    n_out = min(n, k)

    def _cells(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        null = v.isna().to_numpy()
        rows = [
            np.zeros(d) if m else np.asarray(x, dtype=np.float64)
            for x, m in zip(v.tolist(), null.tolist())
        ]
        m = np.stack(rows)
        D = np.zeros((len(m), k))
        vn = np.zeros(len(m))
        for j in range(d):  # d passes of (n×k) elementwise — same fold order
            D = D + m[:, j : j + 1] * C[None, :, j]
            vn = vn + m[:, j] * m[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            score = -(D / (np.sqrt(vn)[:, None] * cn[None, :]))
        order = np.argsort(score, axis=1, kind="stable")[:, :n_out].astype("int32")
        out = [None if mm else row.tolist() for row, mm in zip(order, null.tolist())]
        return pd.Series(out, dtype=object)

    _cells.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_cells, "array<int>")(vec)


def band_key_arrays(vec_col: str, planes: list[list[float]], band_size: int) -> Column:
    """array<int> of per-band sign-LSH keys, one Arrow-batched numpy
    matmul for ALL planes.

    Why a pandas UDF when the rest of this module is codegen: the sign
    bits need |planes| dot products per row, and Spark's higher-order
    functions run interpreted (CodegenFallback) — 48 separate
    F.aggregate folds over a 64-dim vector measured ~5× the cost of
    the whole query. One (batch × dim) @ (dim × planes) matmul per
    Arrow batch replaces all of them; key packing is a vectorized
    reshape+dot. Bit/band layout matches the scalar definition
    (plane b*band_size+j contributes 2^j to band b's key)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    if P.shape[1] % band_size:
        raise ValueError(
            f"n_planes={P.shape[1]} is not divisible by band_size={band_size}"
        )
    n_bands = P.shape[1] // band_size
    weights = (1 << np.arange(band_size)).astype(np.int64)

    def _keys(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        # NULL embeddings -> NULL key array (posexplode then emits no
        # bands for the row); np.asarray(None) would fail the task
        null = v.isna().to_numpy()
        dim = P.shape[0]
        m = np.asarray(
            [
                np.zeros(dim) if mask else np.asarray(x, dtype=np.float64)
                for x, mask in zip(v.tolist(), null.tolist())
            ]
        )
        signs = (m @ P) > 0.0
        keys = (
            (signs.reshape(len(m), n_bands, band_size) * weights)
            .sum(axis=2)
            .astype("int32")
        )
        return pd.Series(
            [None if mask else row.tolist() for row, mask in zip(keys, null.tolist())],
            dtype=object,
        )

    _keys.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_keys, "array<int>")(F.col(vec_col))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_tables: int = 12,
    bits_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: a candidate is any
    corpus vector sharing at least one of ``n_tables`` band keys with
    the query, exact-cosine re-ranked.

    One table of b bits has per-neighbor hit probability p^b (p = sign
    agreement, 1-θ/π); a single table starves recall for moderate-sim
    neighbors, so the standard recipe is L independent tables and a
    union of candidates — miss probability (1-p^b)^L. Defaults (12
    tables × 4 bits) put a cosine-0.5 neighbor (p≈0.67) at ~93% hit.

    Scale: candidates come from an equi-join on 8-byte (band, key)
    against the (tiny, broadcast) exploded query keys — the corpus is
    touched once to emit L keys per row and once to re-rank the
    matched ids; no bucket is ever collected. At 100 TB the corpus
    side can be pre-materialized bucketed by (band, key)."""
    from pyspark.sql import Window

    planes = _hyperplanes(dim, n_tables * bits_per_table)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
        F.posexplode(band_key_arrays(vec_col, planes, bits_per_table)).alias(
            "band", "key"
        ),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.posexplode(band_key_arrays(vec_col, planes, bits_per_table)).alias(
            "band", "key"
        ),
    )
    scored = (
        c.join(F.broadcast(q), ["band", "key"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_hoisted(
                    F.col(vec_col), F.col("_qvec"), F.col("_cn"), F.col("_qn")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .distinct()  # a pair may collide in several tables
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean vector via ``applyInPandas`` (grouped-map pandas
    UDF, Arrow-batched): each group's vectors stack into one numpy
    matrix, the centroid is a single vectorized mean.

    Scale: the shuffle is the groupBy hash partitioning of (group,
    vector) rows — one exchange, then embarrassingly parallel per-group
    math. Groups must fit per-task memory (a centroid input group of
    10M × 256 floats ≈ 10 GB would need a tree-agg rewrite; typical
    label/cell cardinalities are thousands of rows)."""
    import numpy as np
    import pandas as pd

    # the group column keeps ITS OWN type — hardcoding int broke any
    # string/long-labeled corpus at Arrow conversion (r6 review)
    group_type = df.schema[group_col].dataType.simpleString()
    out_schema = (
        f"{group_col} {group_type}, n_vecs long, centroid array<double>"
    )

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "n_vecs": [len(pdf)],
                "centroid": [mat.mean(axis=0)],
            }
        )

    return (
        df.select(group_col, vec_col)
        # NULL embeddings can't average — np.stack over a None element
        # raised inside the task (r8 wave 5; same guard as
        # _kmeans_centroids). n_vecs counts non-null members.
        .where(F.col(vec_col).isNotNull())
        .groupBy(group_col)
        .applyInPandas(centroid, out_schema)
    )


def _metadata_row_count(df: DataFrame) -> int | None:
    """Exact row count from parquet footers — no data scan — when the
    frame is a pure column-prune/repartition over parquet files (the
    r11 verdict task #3: semdedup's corpus-pricing count() re-scanned
    the whole embeddings table; for a table-backed frame the row count
    already sits in file metadata). Returns None for anything with a
    filter/join/limit in the plan — those change the row count, so the
    caller falls back to count().

    Scale posture: footers are metadata-sized. Up to 256 files the
    driver reads them directly (~ms each); beyond that the reads fan
    out as one executor job over the file list — still metadata-only,
    never a data scan."""
    allowed = {
        "Project",
        "Repartition",
        "RepartitionByExpression",
        "Rebalance",
        "SubqueryAlias",
        "View",
        "Relation",
        "LogicalRelation",
    }
    try:
        tree = df._jdf.queryExecution().analyzed().toString()
        for line in tree.splitlines():
            name = line.lstrip(" +-:'").split(" ", 1)[0]
            if name and name not in allowed:
                return None
        if "parquet" not in tree:
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    paths = [unquote(urlparse(f).path) for f in files]

    def _footer_rows(path: str) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows

    try:
        if len(paths) <= 256:
            return sum(_footer_rows(p) for p in paths)
        sc = df.sparkSession.sparkContext
        n_slices = min(len(paths), sc.defaultParallelism)
        return sc.parallelize(paths, n_slices).map(_footer_rows).sum()
    except Exception:
        return None


def semdedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 17,
    target_cluster_size: int = 32,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping within-cluster
    near-duplicates — the scale trick is that pairwise cosine runs
    only INSIDE clusters (O(Σ cᵢ²), never O(n²) — at 100 TB the
    cluster fan-out is the whole game).

    Keep rule (the deterministic id-priority variant): a vector DROPS
    iff some LOWER-id vector in its cluster has cosine ≥ threshold
    with it. One pair-join + one anti-join — no iterative component
    propagation, matching the paper's keep-one-per-duplicate-set
    semantics for the common case while staying order-exact. Like the
    paper, cross-cluster near-dups survive (bounded recall by
    construction; raise n_clusters' probe width or fall back to
    lsh_neardup_pairs for exhaustive pairs).

    Clustering reuses the IVF coarse quantizer (`_kmeans_centroids`):
    deterministic in (data, seed), invariant to partitioning, capped
    sample — so results are reproducible enough to golden-pin.

    Returns (id, cluster, keep).
    """
    probe_rows = None
    if n_clusters is None:
        # the scale posture: cluster COUNT grows with the corpus so
        # cluster SIZE — and the per-cluster quadratic pair term —
        # stays ~target_cluster_size (SemDeDup uses 50k clusters for
        # LAION for exactly this reason). A fixed n_clusters turns the
        # within-cluster join quadratic: the 10x scale artifact
        # measured 11.7x before this default. Table-backed frames are
        # priced from parquet footer metadata (no scan); ad-hoc frames
        # fuse the count into the k-means trainer's own probe (r13
        # batch 8, guide §5): one early-terminating limit(cap+1)
        # collect both counts the corpus (when it fits under the
        # trainer's sample cap, the probe IS the corpus) and hands the
        # trainer its complete sample — the previous shape paid a full
        # count() scan AND the trainer's probe. Over-cap ad-hoc frames
        # fall back to the exact count + trainer-side sampling
        # unchanged (the throwaway probe is early-terminating, never a
        # full pass).
        n = _metadata_row_count(df)
        if n is None:
            probe_rows = (
                df.select(F.col(vec_col).cast("array<double>").alias("v"))
                .limit(KMEANS_SAMPLE_CAP + 1)
                .collect()
            )
            if len(probe_rows) <= KMEANS_SAMPLE_CAP:
                n = len(probe_rows)  # the probe saw the whole corpus
            else:
                n = df.count()
                probe_rows = None
        n_clusters = max(16, n // target_cluster_size)
    cents = _kmeans_centroids(df, vec_col, n_clusters, seed, probe_rows=probe_rows)
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        # norm computed once per VECTOR (and persisted with the
        # assignment) instead of twice per within-cluster PAIR in the
        # quadratic join below (cosine_hoisted)
        l2_norm(F.col(vec_col)).alias("nv"),
        F.element_at(nearest_cells_arrow(F.col(vec_col), cents, 1), 1).alias("cluster"),
    )
    # the assigned frame feeds FOUR consumers (pair join both sides,
    # anti-join, keep-side output) — without a persist each one re-runs
    # the embedding scan AND the centroid-assignment Arrow kernel.
    # Rotating the slot bounds residency to the latest call; at scale
    # real pipelines materialize the assignment anyway.
    assigned = session_cache.rotate(
        assigned.sparkSession, "semdedup_assign", assigned.persist()
    )
    a = assigned.select(
        F.col("cluster"),
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("_na"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("_nb"),
    )
    dup_pairs = (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                cosine_hoisted(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")), 6
            )
            >= threshold
        )
        .select("cluster", "id_b")
        .distinct()
        # TWO consumers (the keep-side anti-join and the drop-side
        # union branch) and NO exchange reuse between them — without a
        # materialization the within-cluster quadratic pair join (the
        # operator's dominant term at scale) executed TWICE per action
        # (r13 batch 8, guide §5). O(duplicates) narrow rows.
        .localCheckpoint(eager=True)
    )
    return (
        assigned.join(
            dup_pairs.withColumnRenamed("id_b", "id"), ["cluster", "id"], "left_anti"
        )
        .select("id", "cluster", F.lit(True).alias("keep"))
        .unionByName(
            dup_pairs.select(
                F.col("id_b").alias("id"), "cluster", F.lit(False).alias("keep")
            )
        )
    )


# -- persisted IVF index over an Iceberg table -------------------------------

# Bump when the quantizer/search kernel changes semantics (kmeans
# seeding, cell assignment, cosine fold): a persisted index built by an
# older kernel would otherwise validate as healthy while silently
# changing probe recall across code revisions.
IVF_KERNEL_VERSION = "2"  # v2: centroids moved to a metadata sidecar


def _centroids_to_parquet_bytes(centroids: list[list[float]]) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "cell": pa.array(range(len(centroids)), pa.int32()),
            "centroid": pa.array(centroids, pa.list_(pa.float64())),
        }
    )
    buf = pa.BufferOutputStream()
    pq.write_table(t, buf)
    return buf.getvalue().to_pybytes()


def _write_centroids_sidecar(location: str, centroids: list[list[float]]) -> tuple[str, str]:
    """Write the centroid matrix as a parquet SIDECAR under metadata/
    and return (path, sha256).  Properties are for scalars: at the
    documented production shape (n_lists=4096, dim=768) a JSON-in-
    properties centroid matrix is ~60 MB copied into EVERY
    metadata.json version and LoadTable response forever (r9 verdict
    #2) — the sidecar keeps metadata O(KB) and the pointer immutable
    (content-hashed name, verified on read)."""
    import hashlib

    from ..iceberg.io import load_io

    data = _centroids_to_parquet_bytes(centroids)
    digest = hashlib.sha256(data).hexdigest()
    path = f"{location}/metadata/ivf-centroids-{digest[:16]}.parquet"
    load_io(location).write(path, data)
    return path, digest


def load_ivf_centroids(table) -> list[list[float]]:
    """Centroids for an IVF index table: sidecar parquet (kernel v2,
    sha256-verified) or the legacy `ivf.centroids` JSON property."""
    import hashlib
    import io as _io
    import json as _json

    props = table.properties
    if "ivf.centroids-path" in props:
        import pyarrow.parquet as pq

        data = table.io.read(props["ivf.centroids-path"])
        want = props.get("ivf.centroids-sha256")
        if want and hashlib.sha256(data).hexdigest() != want:
            raise ValueError(
                "IVF centroids sidecar checksum mismatch — refusing to "
                "probe with a corrupt codebook"
            )
        t = pq.read_table(_io.BytesIO(data)).sort_by("cell")
        return [list(map(float, c)) for c in t["centroid"].to_pylist()]
    if "ivf.centroids" in props:  # legacy small indexes (kernel v1)
        return _json.loads(props["ivf.centroids"])
    raise ValueError("table carries no IVF centroids (not an IVF index?)")


def ivf_index_write(
    spark,
    corpus: DataFrame,
    location: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Materialize the IVF layout as an Iceberg table partitioned by
    cell: k-means centroids go into a content-hashed parquet sidecar
    under metadata/ (properties carry only the pointer + sha256),
    vectors land in per-cell data files via the normal partitioned
    write path.

    This is the 100 TB ANN posture from SCALE.md made concrete: a query
    probing n_probe of n_lists cells touches n_probe/n_lists of the
    DATA FILES (partition pruning in the metadata plane), not just
    n_probe/n_lists of the rows after a full scan.
    """
    from ..iceberg import write as W
    from ..iceberg.schema import Schema
    from ..iceberg.transforms import PartitionField, PartitionSpec, parse_transform
    from ..iceberg.types import FloatType, IntegerType, ListType, LongType, NestedField

    centroids = _kmeans_centroids(corpus, vec_col, n_lists, seed)
    sidecar_path, digest = _write_centroids_sidecar(location, centroids)

    schema = Schema(
        (
            NestedField(1, id_col, LongType(), True),
            NestedField(2, vec_col, ListType(3, FloatType(), False), False),
            NestedField(4, "cell", IntegerType(), True),
        ),
        schema_id=0,
    )
    spec = PartitionSpec([PartitionField(4, 1000, "cell", parse_transform("identity"))])
    t = W.create_table(
        location,
        schema,
        spec=spec,
        properties={
            "ivf.centroids-path": sidecar_path,
            "ivf.centroids-sha256": digest,
            "ivf.n-lists": str(n_lists),
            "ivf.kernel-version": IVF_KERNEL_VERSION,
        },
    )

    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(nearest_cells_arrow(F.col(vec_col), centroids, 1), 1).alias("cell"),
    )
    return W.append(t, assigned)


def ivf_index_search(
    spark,
    table,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN search against an ivf_index_write table: probe cells are
    computed from the stored centroids, the scan carries an
    `IN (cells)` row filter that the metadata plane turns into
    partition pruning (only probed cells' files are read), and exact
    cosine reranks the survivors."""
    from pyspark.sql import Window

    from ..iceberg import expressions as E

    centroids = load_ivf_centroids(table)

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.explode(nearest_cells_arrow(F.col(vec_col), centroids, n_probe)).alias("cell"),
    )
    # one evaluation of the query-side Arrow UDF plan: the collect
    # below feeds BOTH the probe-cell list and (rebuilt as a local
    # frame) the broadcast join — the lazy q would otherwise recompute
    # nearest_cells_arrow + explode a second time inside the join
    # (r8 review wave 5). Query sets are small by contract (they're
    # broadcast anyway).
    q_rows = q.collect()
    probe_cells = sorted({r["cell"] for r in q_rows})
    q = spark.createDataFrame(q_rows, q.schema)
    scan = table.scan(row_filter=E.is_in("cell", *probe_cells))
    corpus = scan.to_df(spark)
    scored = (
        # corpus norm hoisted below the broadcast join: once per stored
        # vector, not once per (vector, matching query) pair
        corpus.withColumn("_cn", l2_norm(F.col(vec_col)))
        .join(F.broadcast(q), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_hoisted(
                    F.col(vec_col), F.col("_qvec"), F.col("_cn"), F.col("_qn")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )


def quantize_int8(
    df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Symmetric int8 scalar quantization of an embedding column: per
    vector, scale = max|x| / 127 and code_i = round(x_i / scale).

    The storage-reduction step every 100 TB embedding table goes
    through (4 bytes -> 1 byte per dimension at <=scale/2 absolute
    error). Pure codegen higher-order functions — transform/aggregate
    folds, no UDF, no shuffle: the operator is a narrow map the scanner
    pipeline absorbs.

    Returns (id, scale, codes array<tinyint-range bigint>, max_err,
    within_bound) where within_bound pins the quantization error
    guarantee max_err <= scale/2.
    """
    from pyspark.sql import functions as F

    e = F.transform(vec_col, lambda x: x.cast("double"))
    amax = F.aggregate(e, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = amax / F.lit(127.0)
    codes = F.transform(e, lambda x: F.round(x / scale).cast("bigint"))
    max_err = F.aggregate(
        e, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x - F.round(x / scale) * scale))
    )
    zero = scale == 0
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(zero, F.array().cast("array<bigint>")).otherwise(codes).alias("codes"),
        F.when(zero, F.lit(0.0)).otherwise(max_err).alias("max_err"),
    ).withColumn("within_bound", F.col("max_err") <= F.col("scale") / 2 + 1e-12)


# above this corpus size, method='auto' switches the miner from the
# exact broadcast scorer to IVF cell-pruned candidates (ANN semantics)
HARD_NEG_AUTO_THRESHOLD = 200_000


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    method: str = "auto",
    n_lists: int = 64,
    n_probe: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query, the
    top-k most-similar corpus vectors with a DIFFERENT label (the
    near-misses a contrastive loss learns the most from).

    queries: (query_id, label, embedding).

    ``method``:
      * ``'broadcast'`` — EXACT: queries broadcast, cosine in codegen
        HOFs, one window for top-k, label inequality pushed into the
        join.  O(corpus × queries) compute — the small-corpus path.
      * ``'ivf'`` — APPROXIMATE (ANN): candidates come from ivf_topk's
        cell-pruned equi-join (each query scores only its ``n_probe``
        nearest of ``n_lists`` k-means cells — no cartesian anywhere),
        same label filter, same window.  O(corpus × queries ×
        n_probe/n_lists); recall tunable via n_probe.  This is the
        100 TB path (r9 verdict #5 — previously documented, now wired).
      * ``'auto'`` — broadcast below HARD_NEG_AUTO_THRESHOLD corpus
        rows, ivf above.  The switch costs ONE corpus count() job
        (footer-only for a plain parquet scan; a full pass when the
        corpus is a computed plan — pass method explicitly to skip
        it); same adaptive pattern semdedup uses for cluster count.
    """
    from pyspark.sql import Window

    if method == "auto":
        method = (
            "broadcast" if corpus.count() <= HARD_NEG_AUTO_THRESHOLD else "ivf"
        )
    q = queries.select(
        F.col(query_id_col),
        F.col(label_col).alias("_qlabel"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    if method == "broadcast":
        cand = c.crossJoin(F.broadcast(q))
    elif method == "ivf":
        centroids = _kmeans_centroids(corpus, vec_col, n_lists, seed)
        c = c.withColumn(
            "_cell",
            F.element_at(nearest_cells_arrow(F.col(vec_col), centroids, 1), 1),
        )
        q = q.withColumn(
            "_cell",
            F.explode(nearest_cells_arrow(F.col("_qvec"), centroids, n_probe)),
        )
        # equi-join on cell: a broadcast HASH join (queries are small),
        # never a BroadcastNestedLoopJoin/CartesianProduct — pinned by
        # tests/test_ivf_index.py::test_hard_negatives_ivf_no_cartesian
        cand = c.join(F.broadcast(q), "_cell").drop("_cell")
    else:
        raise ValueError(f"hard_negatives: unknown method {method!r}")
    scored = cand.filter(
        (F.col(id_col) != F.col(query_id_col))
        & (F.col(label_col) != F.col("_qlabel"))
    ).select(
        query_id_col,
        id_col,
        F.col(label_col).alias("negative_label"),
        F.round(
            cosine_hoisted(F.col(vec_col), F.col("_qvec"), F.col("_cn"), F.col("_qn")),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "negative_label", "cosine_sim", "rank")
    )


def centroid_drift(
    ref: DataFrame,
    cur: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift monitor: per label, the cosine between the
    reference and current centroid (1.0 = no drift; the drop is the
    signal a retrained encoder or a shifted corpus produces).  Pairs
    with `profile.drift_psi` (scalar distributions) for model-input
    monitoring.  Cost: two grouped centroid passes (Arrow kernels,
    partial-aggregated) + a label-sized join — nothing pairwise.

    Returns (label, n_ref, n_cur, centroid_cosine); labels present on
    only one side are dropped (no centroid to compare)."""
    a = group_centroids(ref, label_col, vec_col).select(
        F.col(label_col), F.col("n_vecs").alias("n_ref"), F.col("centroid").alias("_ca")
    )
    b = group_centroids(cur, label_col, vec_col).select(
        F.col(label_col), F.col("n_vecs").alias("n_cur"), F.col("centroid").alias("_cb")
    )
    return (
        a.join(b, label_col)
        .select(
            label_col,
            "n_ref",
            "n_cur",
            F.round(cosine(F.col("_ca"), F.col("_cb")), 6).alias("centroid_cosine"),
        )
    )
