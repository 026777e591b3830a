"""Training-data curation operators beyond scoring/dedup: sequence
packing and deterministic weighted sampling.

[X] extension surface (SURVEY.md §2.9) — no counterpart in the
reference, which has no data plane. Both operators are pure codegen
expressions (window cumsum / integer hashing): no UDFs, no driver
loops, and both have exact SQL oracles in the gate registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import session_cache
from .text import token_count

# Knuth multiplicative hash constant (2^32 / golden ratio), applied in
# exact 64-bit integer arithmetic so DuckDB reproduces it bit-for-bit.
_HASH_MULT = 2654435761
_HASH_MOD = 2**32

# One cached frame per operator call-site, rotated: DataFrame.persist
# registers in the CacheManager and is NEVER GC-unpersisted, so
# repeated operator calls in one session accumulated corpus-sized
# cached frames for the application's lifetime (r6 review). Rotating
# bounds storage to one frame per site; unpersisting the previous one
# merely degrades a still-held old plan to recompute (correct).
def _persist_rotating(key: str, df: DataFrame) -> DataFrame:
    session_cache.release(df.sparkSession, key)
    return session_cache.hold(df.sparkSession, key, df.persist(StorageLevel.MEMORY_AND_DISK))


# Bucketing uses F.pmod so a negative id still lands in [0, 2^32) —
# Spark's sign-preserving % would make every negative bucket pass any
# `< threshold` filter. Cross-engine oracle equality (DuckDB's
# sign-preserving %) additionally requires ids nonnegative. The id is
# pre-reduced mod 2^31 so id*MULT stays inside int64 for ARBITRARY ids
# (r8 review: Spark 4 runs ANSI mode — a raw id above ~3.47e9 made the
# multiply throw ARITHMETIC_OVERFLOW, and DuckDB's HUGEINT promotion
# diverged; the reduction changes nothing for ids < 2^31 and merely
# folds the hash domain above it). Every oracle carries the same
# `% 2147483648` inner reduction.
_HASH_PREMOD = 2**31


def _bucket(id_col: str) -> "F.Column":
    """Knuth-hash bucket of an id in [0, 2^32) — the uniform, engine-
    reproducible sort key behind every deterministic sampler here."""
    return F.pmod(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(_HASH_PREMOD))
        * F.lit(_HASH_MULT),
        F.lit(_HASH_MOD),
    )


def _sharded_rank(
    df: DataFrame,
    part_cols: list[str],
    bucket_col: str,
    tiebreak_cols: list[str],
    n_shards: int,
    rank_name: str,
) -> DataFrame:
    """Exact per-group rank by (bucket, *tiebreak) WITHOUT funneling a
    whole group through one reducer.

    ``Window.partitionBy(group)`` hashes ALL of a group to one task for
    ``row_number`` — a head language at 10^12 docs is TBs through a
    single sort. Because the bucket is uniform on [0, 2^32), it can be
    RANGE-sharded deterministically with no sampling: shard =
    bucket div ceil(2^32 / n_shards) is monotone in bucket, so ranking
    within (group, shard) and adding the count of earlier shards yields
    the identical global rank. Phase 1 aggregates per-(group, shard)
    counts (|groups|·n_shards narrow rows — broadcastable); phase 2
    windows over (group, shard) partitions of ~n_g/n_shards rows each.
    Same two-phase shape as pack_sequences' sharded cumsum; at scale
    set n_shards ≈ executor count.

    The offset join is NULL-SAFE on the group keys: ``groupBy`` treats
    NULL as a real group, so a plain equi-join would silently drop
    every NULL-keyed row (r6 review). The narrow input frame is
    persisted — both phases consume it, and without the cache the
    upstream lineage (source scan + any prior join) executes twice.
    """
    width = -(-_HASH_MOD // n_shards)  # ceil
    df = df.withColumn("_shard", F.expr(f"{bucket_col} div {width}").cast("int"))
    df = _persist_rotating("sharded_rank", df)
    counts = df.groupBy(*part_cols, "_shard").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(w_off), F.lit(0))
    ).drop("_c")
    offs = offs.select(
        *[F.col(c).alias(f"_o_{c}") for c in part_cols],
        F.col("_shard").alias("_o_shard"),
        "_off",
    )
    cond = F.col("_shard").eqNullSafe(F.col("_o_shard"))
    for c in part_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    w_rank = Window.partitionBy(*part_cols, "_shard").orderBy(
        bucket_col, *tiebreak_cols
    )
    return (
        df.join(F.broadcast(offs), cond)
        .withColumn(
            rank_name, (F.row_number().over(w_rank) + F.col("_off")).cast("bigint")
        )
        .drop("_shard", "_off", "_o_shard", *[f"_o_{c}" for c in part_cols])
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int = 2048,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins.

    Contiguous-fill packing: docs are sharded by hash (``doc_id %
    n_shards``) and packed in id order within each shard; a doc's bin
    is ``floor(cum_tokens_before / max_tokens)``. This is the
    streaming-packing strategy real pipelines use — each of the
    ``n_shards`` workers packs its shard independently, so the only
    shuffle is the shard partitioning and the window sort is per-shard,
    never global (a global orderBy would serialize the corpus through
    one task at 100 TB; at scale set n_shards ≈ executor count).

    Returns (doc_id, shard, bin_id, n_tokens).
    """
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = df.select(
        F.col(id_col),
        # pmod, not %: sign-preserving % would emit negative shard
        # values for negative ids (the exact trap the module header
        # warns about), breaking consumers that allocate [0, n_shards)
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    return toks.select(
        id_col,
        "shard",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(max_tokens)
        )
        .cast("bigint")
        .alias("bin_id"),
        "n_tokens",
    )


def weighted_sample(
    df: DataFrame,
    rates: dict[str, float],
    key_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-group subsampling (training-mix reweighting):
    keep a row iff ``hash(id) < rate[group] * 2^32``, with a Knuth
    multiplicative hash in exact integer arithmetic.

    No RNG state, no sampling operator: the decision is a pure function
    of (id, group rate), so it is reproducible across engines, runs,
    and partitionings — and the filter is a codegen expression the
    scanner can evaluate, touching nothing but the id and group
    columns. A NULL id hashes to a NULL bucket, which fails the
    ``<`` filter — NULL-id rows are never sampled (documented, not
    silent: they cannot be deterministically assigned).
    """
    bucket = _bucket(id_col)
    rate = F.lit(float(default_rate))
    for k, r in sorted(rates.items()):
        rate = F.when(F.col(key_col) == k, F.lit(float(r))).otherwise(rate)
    threshold = F.floor(rate * F.lit(float(_HASH_MOD))).cast("bigint")
    return df.filter(bucket < threshold)


def assign_splits(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: the id's Knuth-hash
    bucket falls into cumulative fraction ranges.

    The split is a pure function of the id — stable across runs,
    engines, partitionings, and corpus growth (a doc never changes
    split when new docs arrive, the property that keeps eval sets
    uncontaminated as a 100 TB corpus is re-snapshotted). Pure codegen:
    one integer multiply + compares, evaluable at the scan.

    NULL ids route to the FIRST-listed split (train by default),
    explicitly: a NULL bucket makes every ``when`` test NULL, which
    previously fell through to the LAST split — silently concentrating
    corrupted-id rows in the (smallest, most contamination-sensitive)
    eval split (r6 review).

    Returns df plus a ``split`` column."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    bucket = _bucket(id_col)
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        bound = F.lit(int(cum * _HASH_MOD))
        expr = F.when(bucket < bound, F.lit(name)) if expr is None else expr.when(
            bucket < bound, F.lit(name)
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    first = items[0][0]
    expr = F.when(F.col(id_col).isNull(), F.lit(first)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    quota: int,
    key_col: str = "lang",
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Exact per-stratum quota sampling: keep the ``quota`` rows with
    the smallest Knuth-hash buckets in each stratum (eval-set
    construction, per-language balancing).

    Unlike ``weighted_sample`` (rate-based, approximate counts) the
    quota is exact, and unlike ``df.sampleBy`` it is a pure function of
    the id — the same rows are chosen regardless of partitioning,
    engine, or corpus order, and re-running on a grown corpus only
    swaps rows whose hash displaces a previous member (bounded eval-set
    churn).

    Scale posture: payloads are projected away before any shuffle
    (16-byte (bucket, id) rows), and the rank is the two-phase
    ``_sharded_rank`` — a skewed stratum (``en`` at 60% of a 100 TB
    corpus) sorts in n_shards bounded pieces instead of one reducer.
    Join the result back on ``id_col`` to recover payloads for the
    sampled slice only.

    Returns (id_col, key_col, sample_rank) with sample_rank in
    [1, quota] by hash order.
    """
    ranked = _sharded_rank(
        df.select(id_col, key_col).withColumn("bucket", _bucket(id_col)),
        [key_col],
        "bucket",
        [id_col],
        n_shards,
        "sample_rank",
    )
    return ranked.filter(F.col("sample_rank") <= quota).select(
        id_col, key_col, "sample_rank"
    )


def temperature_mix(
    df: DataFrame,
    target_num: int = 1,
    target_den: int = 2,
    key_col: str = "lang",
    id_col: str = "doc_id",
    n_shards: int = 64,
) -> DataFrame:
    """Square-root temperature mixture resampling (multilingual-LM
    training-mix reweighting): group g's share of the kept corpus is
    proportional to sqrt(n_g) instead of n_g, flattening head languages
    and boosting the tail; total kept ≈ ``target_num/target_den`` of
    the corpus.

    Exact-arithmetic construction (every step reproduces bit-for-bit in
    any engine): w_g = floor(sqrt(n_g)) (integer temperature weight;
    correctly-rounded IEEE sqrt makes the floor exact for n_g ≤ 2^52 —
    past that, sqrt(k²−1) can round up to k; group counts are far
    inside the bound), quota_g = (floor(N·num/den) · w_g) div Σw — all
    int64 — then each group keeps its quota_g members with the smallest
    Knuth-hash buckets (a group smaller than its boosted quota keeps
    all its rows — no replication). Selection is a pure function of the
    ids: stable across engines, runs, partitionings.

    Scale posture: one narrow count per group, the quota map is
    |groups|-sized (broadcast), and member ranking is the two-phase
    ``_sharded_rank`` over payload-free (bucket, id) pairs — a head
    language never funnels through one reducer. int64 exactness holds
    while target_total·w_g < 2^63 (a 1e12-row corpus with 1e6-row
    groups is ~1e18 — inside the bound).

    Returns (id_col, key_col) — the kept rows' identities.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    weights = counts.withColumn("w", F.floor(F.sqrt(F.col("n"))).cast("bigint"))
    tot = weights.agg(
        F.sum("n").alias("nn"), F.sum("w").alias("ws")
    )  # 1 row; cross join below broadcasts it
    quotas = (
        weights.crossJoin(F.broadcast(tot))
        .withColumn(
            "quota",
            F.expr(f"((nn * {int(target_num)} div {int(target_den)}) * w) div ws"),
        )
        .select(key_col, "quota")
    )
    ranked = _sharded_rank(
        df.select(id_col, key_col).withColumn("bucket", _bucket(id_col)),
        [key_col],
        "bucket",
        [id_col],
        n_shards,
        "r",
    )
    q = quotas.select(F.col(key_col).alias("_q_k"), "quota")
    return (
        ranked.join(F.broadcast(q), F.col(key_col).eqNullSafe(F.col("_q_k")))
        .filter(F.col("r") <= F.col("quota"))
        .select(id_col, key_col)
    )


def length_trim(
    df: DataFrame,
    lo_pct: int = 5,
    hi_pct: int = 95,
    key_col: str = "lang",
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    n_shards: int = 64,
) -> DataFrame:
    """Per-group outlier trimming by length percentile: drop each
    group's shortest ``lo_pct``% and longest ``100-hi_pct``% documents
    (the truncated-distribution cleaning step before training-mix
    assembly — clipped boilerplate stubs and runaway concatenations).

    Percentiles are defined by RANK, not interpolation: with r = rank
    ordered by (length, hash-bucket, id) and n = group size, a row is
    kept iff n·lo div 100 < r ≤ n·hi div 100 — pure integer
    arithmetic, so the kept set is identical in any engine (no
    percentile_cont interpolation or approx-quantile divergence). Ties
    break by Knuth-hash bucket before id, so WHICH of the equal-length
    docs fall at a trim boundary is hash-uniform, not id-biased.

    Scale posture (no whole-group window): ranks come from a
    per-(group, length) HISTOGRAM — the only per-group sort is over
    the histogram (bounded by the length domain, invariant of corpus
    size). Tie-groups whose whole rank span lies inside/outside the
    kept range are kept/dropped with zero ranking; only the ≤2
    boundary tie-groups per group rank their members, and that ranking
    is the two-phase ``_sharded_rank`` on the uniform bucket — so even
    an adversarial single-length corpus never funnels a group through
    one reducer.
    """
    rows = df.select(id_col, key_col, len_col)
    hist = rows.groupBy(key_col, len_col).agg(F.count(F.lit(1)).alias("_c"))
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy(len_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        hist.withColumn("_cb", F.coalesce(F.sum("_c").over(w_cum), F.lit(0)))
        .withColumn("_n", F.sum("_c").over(Window.partitionBy(key_col)))
        .withColumn("_lo", F.expr(f"(_n * {int(lo_pct)}) div 100"))
        .withColumn("_hi", F.expr(f"(_n * {int(hi_pct)}) div 100"))
    )
    # a tie-group's members occupy ranks (_cb, _cb + _c]; kept = (_lo, _hi]
    hist = hist.select(
        key_col,
        len_col,
        "_cb",
        "_lo",
        "_hi",
        (
            (F.col("_cb") >= F.col("_lo")) & (F.col("_cb") + F.col("_c") <= F.col("_hi"))
        ).alias("_keep_all"),
        (
            (F.col("_cb") + F.col("_c") <= F.col("_lo")) | (F.col("_cb") >= F.col("_hi"))
        ).alias("_drop_all"),
    )
    # broadcast + null-safe: hist is aggregate-sized (|groups| × length
    # domain), and without the hint a disabled/exceeded auto-broadcast
    # threshold turns this into a corpus shuffle keyed by (group, len) —
    # an adversarial single-length corpus would funnel through one task,
    # the exact skew this histogram design exists to avoid. NULL group
    # or length values are real groupBy groups and must join back.
    h = hist.select(
        F.col(key_col).alias("_h_k"),
        F.col(len_col).alias("_h_l"),
        "_cb",
        "_lo",
        "_hi",
        "_keep_all",
        "_drop_all",
    )
    joined = rows.join(
        F.broadcast(h),
        F.col(key_col).eqNullSafe(F.col("_h_k"))
        & F.col(len_col).eqNullSafe(F.col("_h_l")),
    ).drop("_h_k", "_h_l")
    joined = _persist_rotating("length_trim", joined)
    keep = joined.filter("_keep_all").select(id_col, key_col, len_col)
    boundary = joined.filter(~F.col("_keep_all") & ~F.col("_drop_all")).withColumn(
        "bucket", _bucket(id_col)
    )
    ranked = _sharded_rank(
        boundary, [key_col, len_col], "bucket", [id_col], n_shards, "_tr"
    )
    kept_b = ranked.filter(
        (F.col("_cb") + F.col("_tr") > F.col("_lo"))
        & (F.col("_cb") + F.col("_tr") <= F.col("_hi"))
    ).select(id_col, key_col, len_col)
    return keep.unionByName(kept_b)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-tokenization chunking for long-context training and
    embedding pipelines. Windows start every ``chunk_tokens - overlap``
    tokens; the tail window may be shorter; a non-empty doc always
    yields at least one chunk; empty docs yield none.

    Returns (doc_id, chunk_id, n_tokens, chunk_text). One map pass —
    tokenize, compute the window count arithmetically, posexplode the
    slices; no shuffle, no UDF. At corpus scale the output is larger
    than the input by ~overlap/chunk_tokens — the explode is the point,
    not a hazard."""
    from .text import tokens as _tokens

    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    t = F.col(text_col)
    staged = docs.select(
        F.col(id_col), _tokens(t).alias("_toks")
    ).select(
        id_col,
        "_toks",
        F.size("_toks").alias("_n"),
        F.greatest(
            F.lit(1),
            F.ceil((F.size("_toks") - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
        ).alias("_nc"),
    ).filter(F.col("_n") > 0)
    chunks = staged.select(
        id_col,
        "_n",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_nc") - 1),
                lambda i: F.slice(F.col("_toks"), i * stride + 1, chunk_tokens),
            )
        ).alias("chunk_id", "_ctoks"),
    )
    return chunks.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size("_ctoks").cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", "_ctoks").alias("chunk_text"),
    )


def shuffle_shard(
    df: DataFrame,
    n_shards: int = 16,
    seed: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus shuffle + sharding for training-data
    writes (the WebDataset/TFRecord sharding step): each doc gets a
    pseudorandom 32-bit sort key from the seeded Knuth multiplicative
    hash — exact integer arithmetic, so every engine, run, and
    partitioning agrees — and shard = key mod n_shards. The id is
    reduced mod 2^31 BEFORE the multiply so the product stays inside
    int64 for arbitrarily large ids under ANSI mode (a reduced id above
    ~3.47e9 times the Knuth constant overflows int64 — r8 review; the
    reduction changes nothing for ids < 2^31).

    A training job writes df.withColumn('shard', ...).write
    .partitionBy('shard'); this operator returns the shard-level
    manifest (n_docs, token totals, a membership checksum binding ids
    to shards) — the artifact the actual write is verified against.
    Pure codegen: one map pass + one n_shards-row aggregation.
    """
    key = F.pmod(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(_HASH_PREMOD))
        * F.lit(_HASH_MULT)
        + F.lit(int(seed)),
        F.lit(_HASH_MOD),
    )
    per_doc = df.select(
        F.pmod(key, F.lit(int(n_shards))).cast("int").alias("shard"),
        key.alias("_key"),
        F.col(id_col).alias("_id"),
        token_count(F.col(text_col)).alias("_tok"),
    )
    return per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("total_tokens"),
        F.min("_key").cast("bigint").alias("min_key"),
        F.max("_key").cast("bigint").alias("max_key"),
        F.sum(F.col("_id") % 1000).cast("bigint").alias("id_chk"),
    )


def filter_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: list[float],
    weight_col: str | None = None,
) -> DataFrame:
    """Survival curve for a quality-filter threshold decision: for each
    candidate threshold t, how many rows (and how much ``weight_col``
    mass — typically tokens) survive ``score >= t``.

    Returns (threshold, n_rows, row_share, n_weight, weight_share),
    one row per threshold. shares rounded to 6 decimals.

    ONE aggregation pass regardless of grid size: each threshold is a
    conditional-sum column (map-side combinable, stays in codegen), and
    the single wide result row explodes into the grid — no windows, no
    second scan, no shuffle beyond the one partial-agg exchange. This
    is the "measure before you filter" tool: sweeping 20 thresholds
    costs the same as counting once, so there is no excuse for picking
    a cutoff blind.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    s = F.col(score_col)
    w = F.col(weight_col) if weight_col is not None else F.lit(1)
    aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.sum(w).cast("double").alias("w_total"),
    ]
    for i, t in enumerate(thresholds):
        cond = s >= F.lit(float(t))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"n__{i}"))
        aggs.append(
            F.sum(F.when(cond, w).otherwise(F.lit(0))).cast("double").alias(f"w__{i}")
        )
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(float(t)).alias("threshold"),
            F.col(f"n__{i}").cast("bigint").alias("n_rows"),
            F.round(F.col(f"n__{i}") / F.greatest(F.col("n_total"), F.lit(1)), 6).alias(
                "row_share"
            ),
            F.col(f"w__{i}").cast("bigint").alias("n_weight"),
            F.round(
                F.col(f"w__{i}") / F.greatest(F.col("w_total"), F.lit(1.0)), 6
            ).alias("weight_share"),
        )
        for i, t in enumerate(thresholds)
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
