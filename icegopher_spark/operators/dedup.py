"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Design for 100 TB:
  * Exact dedup is one hash-aggregate shuffle on a 128-bit fingerprint
    (two independent 64-bit hashes) — never on the raw text (shuffling
    full documents would move the whole corpus; shuffling 16-byte keys
    + ids moves ~nothing). At 64 bits a 10^12-doc corpus expects ~27
    birthday collisions; at 128 bits the expectation is ~10^-14, so no
    text-shuffling verification join is needed.
  * Candidate generation for near-dup is the LSH pattern: explode to
    (band, band_hash) keys, self-join on the key, verify exact Jaccard
    only for candidates. The join key space is uniform (hash output),
    so no skew; all heavy lifting is JVM-side array expressions.
  * Nothing collects to the driver.

These are [X] extension operators (SURVEY.md §2.9) — the reference
(zeroshade/icegopher) has no data plane.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import session_cache
from .text import tokens


def bind1(value: Column, fn) -> Column:
    """Evaluate ``value`` once and let ``fn`` reference it many times.

    Catalyst's CollapseProject inlines a projected expression into every
    downstream reference — an 8-band explode of a MinHash signature
    would recompute the whole signature fold 8×. Wrapping the value in
    a 1-element array and applying ``fn`` through a higher-order
    ``transform`` introduces a lambda binding: the value is computed
    once per row, shared across all uses inside ``fn``."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-grams from an ALREADY-tokenized array column — for
    callers building several n sizes from one tokenization (the
    tokenizer is the expensive regex pass; HOFs have no CSE, so a
    shared ``toks`` must be materialized in its own projection)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-grams (NOT deduplicated, in document order) as an
    array<string>; empty-safe; case-folded to match the SQL oracles.

    Guarded for short docs: F.sequence(1, 0) yields a DESCENDING [1, 0]
    (not an empty array), which would index past the token array for
    docs with < n tokens.

    The token array is bound through ``bind1`` so it is materialized
    ONCE per row: higher-order functions run interpreted
    (CodegenFallback), and an unbound ``toks`` subtree would re-run the
    regexp tokenizer for every element_at reference inside the lambda —
    measured ~10× the entire MinHash pipeline cost."""

    return bind1(tokens(F.lower(col)), lambda toks: word_ngrams_from_tokens(toks, n))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (see ``word_ngrams``)."""
    return F.array_distinct(word_ngrams(col, n))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = True
) -> DataFrame:
    """Exact dedup: keep the lowest id per identical text.

    Shuffle is on a 128-bit fingerprint (two independent xxhash64
    seeds — the second prepends a literal discriminator, giving an
    unrelated 64-bit view of the same bytes); the canonical
    representative is min(id). Returns (kept id, n_copies). 128 bits
    makes birthday collisions ~10^-14 even at 10^12 docs, so identical
    fingerprints ARE identical texts for any physically realizable
    corpus — no text-shuffling verification join (r6 review: the
    previous single 64-bit hash expects ~27 collisions at that scale,
    each silently dropping a distinct document)."""
    t = F.lower(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(
            F.col(id_col),
            F.xxhash64(t).alias("fp_a"),
            F.xxhash64(F.lit("icegopher-fp2"), t).alias("fp_b"),
        )
        .groupBy("fp_a", "fp_b")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


# Shingles appearing in more docs than this are "stop shingles"
# (boilerplate: headers, licence blocks, templated text). A shingle in
# D docs contributes D² rows to an inverted-index self-join — one
# 100k-doc boilerplate line is a 10-billion-row join explosion. The
# default never triggers on the gate corpora (≤5k docs), so gate pairs
# are unchanged; at 100 TB it bounds the join's per-key fan-out.
STOP_SHINGLE_MAX_DF = 10_000


def drop_stop_shingles(
    sh: DataFrame, hash_col: str, max_doc_freq: int | None, materialize_stop: bool = False
) -> DataFrame:
    """Remove shingle hashes whose doc-frequency exceeds the cap via a
    left-anti join against the (small) over-cap hash set. Rows must be
    distinct per (doc, hash), which shingle exploders guarantee.

    ``materialize_stop`` checkpoints the over-cap hash SET (bounded by
    |shingles|/max_doc_freq rows — tiny by construction, empty on
    non-boilerplate corpora): when the filtered frame feeds several
    consumers, each otherwise re-runs the full doc-frequency aggregate
    — a whole extra shuffle of the shingle frame per consumer — just to
    rebuild the same stop set (r13 batch 7, guide §2.4). The anti-join
    itself stays lazy, so the LeftAnti guard remains visible in every
    consumer's plan."""
    if max_doc_freq is None:
        return sh
    stop = (
        sh.groupBy(hash_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select(hash_col)
    )
    if materialize_stop:
        stop = stop.localCheckpoint(eager=True)
    return sh.join(stop, hash_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).

    Candidates come from an equi-join on individual shingle hashes
    (inverted index), so cost is bounded by shared-shingle pairs, not
    |docs|². Stop shingles above ``max_doc_freq`` are dropped from the
    shingle sets BEFORE sizing and joining (jaccard is then over the
    retained sets — consistent numerator and denominator), so
    boilerplate can't quadratically explode the join. Intersection size
    is counted per pair; union via the per-doc retained-shingle counts
    (|A|+|B|-|A∩B|).
    """
    # the raw shingle frame is materialized ONCE (narrow (id, hash)
    # rows): the stop-shingle drop + three downstream consumers
    # (sizes, both join sides) otherwise each re-run the tokenizer
    # (r13 optimization, guide §5). The drop's STOP SET is also
    # materialized (r13 batch 7): the three consumers otherwise each
    # re-run the doc-frequency aggregate — a full extra shuffle of the
    # shingle frame per consumer. The anti-join stays lazy so its
    # LeftAnti guard remains visible in the final plan (plan pin).
    sh = shingle_hash_rows(df, text_col, id_col, n).localCheckpoint(eager=True)
    sh = drop_stop_shingles(sh, "h", max_doc_freq, materialize_stop=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment: C(A,B) =
    |A∩B| / min(|A|,|B|) — the quote/inclusion detector Jaccard misses
    (a short doc fully embedded in a long one has tiny Jaccard but
    containment 1.0; Broder's resemblance-vs-containment distinction).
    The standard audit before mixing a curated subset into a superset
    corpus.

    Same inverted-index shape and stop-shingle cap as
    ``ngram_jaccard_pairs`` (cost bounded by shared-shingle pairs, not
    |docs|²); the threshold compares in integer space
    (100·common ≥ pct·min) so the keep set can't float-flip between
    engines. Returns (id_a, id_b, n_common, n_a, n_b, containment),
    id_a < id_b."""
    pct = int(round(threshold * 100))
    # one materialization of the raw shingle frame + the (tiny) stop
    # set — same rationale as ngram_jaccard_pairs (r13, guide §5/§2.4)
    sh = shingle_hash_rows(df, text_col, id_col, n).localCheckpoint(eager=True)
    sh = drop_stop_shingles(sh, "h", max_doc_freq, materialize_stop=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .filter(100 * F.col("n_common") >= pct * F.least("n_a", "n_b"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common") / F.least("n_a", "n_b").cast("double"), 6
            ).alias("containment"),
        )
    )


def minhash_signature(col: Column, num_hashes: int = 32, n: int = 3) -> Column:
    """MinHash signature as array<bigint>: min over shingles of
    xxhash64(seed, xxhash64(shingle)) per seed — BIT-IDENTICAL to
    ``minhash_signatures_df``'s double-hashing scheme, so an ad-hoc
    per-row signature can probe an index built by the bulk path (r6
    review: the old form seed-hashed the raw shingle string, silently
    matching ZERO index bands). Caveats vs the df form: no stop-shingle
    cap (a single row cannot know global doc frequency), and
    higher-order functions are CodegenFallback (interpreted) — for bulk
    corpora prefer ``minhash_signatures_df`` (explode + groupBy,
    whole-stage codegen)."""
    sh = word_shingles(col, n)
    init = F.array(*[F.lit(2**63 - 1).cast("bigint") for _ in range(num_hashes)])

    def step(acc: Column, s: Column) -> Column:
        hs = F.array(*[F.xxhash64(F.lit(k), F.xxhash64(s)) for k in range(num_hashes)])
        return F.zip_with(acc, hs, lambda a, h: F.least(a, h))

    return F.aggregate(sh, init, step)


def shingle_hash_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, h bigint): one row per distinct word n-gram shingle, with the
    shingle pre-collapsed to its 64-bit xxhash64. Every downstream
    MinHash/Jaccard stage works on this fixed-width column — the variable
    -length shingle string is hashed exactly ONCE, so seed-hash fan-out
    and set-intersection joins touch only 8-byte longs."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    ).select("id", F.xxhash64("sh").alias("h"))


def signatures_from_hashes(sh: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(id, sig array<bigint>) from an ALREADY-built (id, h) shingle-hash
    frame — the shared-frame entry point (r13 optimization): a caller
    that needs the shingle rows again for verification materializes
    them ONCE and feeds both stages, instead of re-running the regex
    tokenizer + shingle explode per stage."""
    # parsed SQL per seed aggregate (r14, guide §1.2): one py4j call per
    # seed instead of five; expressions identical (min(xxhash64(k, h)))
    mins = sh.groupBy("id").agg(
        *[F.expr(f"min(xxhash64({k}, h)) AS h{k}") for k in range(num_hashes)]
    )
    arr = ", ".join(f"h{k}" for k in range(num_hashes))
    return mins.select("id", F.expr(f"array({arr}) AS sig"))


def band_entries_from_signatures(
    sigs: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(id, band, key) from an (id, sig) frame — see minhash_band_entries."""
    rows_per_band = num_hashes // bands
    # parsed SQL struct array (r14, guide §1.2): identical expressions
    # (band literal + xxhash64 over the band's signature slice), built
    # in one py4j call instead of ~10 per band
    structs = ", ".join(
        "named_struct('band', {b}, 'key', xxhash64({slice}))".format(
            b=b,
            slice=", ".join(
                f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "id", F.expr(f"explode(array({structs})) AS bk")
    ).select("id", "bk.band", "bk.key")


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """(id, sig array<bigint>) via the scalable pattern: explode distinct
    shingles to rows, hash each with ``num_hashes`` seeds as flat codegen
    columns, and take per-doc mins in one hash aggregate.

    The shingle string is hashed once (``shingle_hash_rows``); the
    ``num_hashes`` seed functions are xxhash64(seed, h) over the 64-bit
    base hash — double hashing, so each seed hash costs a fixed-width
    mix instead of a full string hash (32× less string hashing).
    Everything stays inside whole-stage codegen (xxhash64 + min are
    primitive exprs; no higher-order functions in the hot path). The
    only shuffle moves (id, 8-byte shingle hash) pairs — at 100 TB that
    is a few percent of corpus size, and partial aggregation collapses
    most of it map-side.

    r13: the raw shingle frame is materialized once — the stop-shingle
    anti-join consumes it through TWO subtrees (doc-frequency
    aggregate + probe), so the regex tokenizer + shingle explode
    previously ran twice per call (measured 1.78 s → 1.3 s for the
    incremental probe's new-batch entries at sf0.1, guide §1.2)."""
    sh = shingle_hash_rows(df, text_col, id_col, n)
    if max_doc_freq is not None:
        sh = drop_stop_shingles(
            sh.localCheckpoint(eager=True), "h", max_doc_freq
        )
    return signatures_from_hashes(sh, num_hashes)


def minhash_band_entries(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """(id, band, key): one row per (doc, LSH band) with the band key =
    xxhash64 of the band's signature slice. This is the persistable
    unit of a MinHash index — 20 bytes per (doc, band), and candidate
    generation anywhere is an equi-join on (band, key)."""
    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes, n, max_doc_freq)
    return band_entries_from_signatures(sigs, num_hashes, bands)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """MinHash-LSH near-dup: LSH candidates verified with exact Jaccard.

    Verification runs on hashed shingle ROWS, not string arrays:
    candidate pairs join against the (id, h) shingle table twice, and
    |A ∩ B| is a count of matching hashes per pair. No string
    comparison, no array materialization. All verify-stage joins are
    UNHINTED equi-joins: candidate-pair cardinality is data-dependent
    (a dup-heavy corpus can make it huge), so forcing broadcast risks
    OOM at scale — AQE broadcasts at runtime when a side measures
    small, and falls back to shuffle joins on narrow (long, long)
    keys otherwise.

    r13 optimization (guide §5 caching / §2.4): the retained shingle
    frame feeds BOTH candidate generation (signature mins) and the
    three verify-stage consumers; it is materialized ONCE
    (localCheckpoint of narrow (id, 8-byte hash) rows — ~one shuffle
    write's worth of local disk at any scale), where the previous
    shape re-ran the regex tokenizer + shingle explode up to 4×.
    Materialization order matters: the RAW frame is checkpointed
    BEFORE the stop-shingle anti-join (whose build side aggregates the
    same frame — checkpointing after it ran the tokenizer twice), and
    the per-doc signature aggregate carries the shingle count in the
    same exchange, so verification's size lookup costs no extra pass
    over the shingles."""
    # the SAME retained shingle set feeds signatures and verification,
    # so the verified jaccard is consistent with candidate generation
    sh = shingle_hash_rows(df, text_col, id_col, n).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        # the anti-join reads the materialized raw frame twice (stop
        # aggregate + probe); checkpointing its small result keeps the
        # four downstream consumers from re-running it
        sh = drop_stop_shingles(sh, "h", max_doc_freq).localCheckpoint(eager=True)
    # ONE groupBy(id) exchange yields the 32 seed minima AND the
    # retained-shingle count (previously a separate groupBy pass)
    agg = sh.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.min(F.xxhash64(F.lit(k), F.col("h"))).alias(f"h{k}")
            for k in range(num_hashes)
        ],
    ).localCheckpoint(eager=True)
    sizes = agg.select("id", "n_sh")
    sigs = agg.select(
        "id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("sig")
    )
    cands = band_entries_from_signatures(sigs, num_hashes, bands)
    a, b = cands.alias("a"), cands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return exact_jaccard_verify(
        sh, pairs, threshold, materialize_sh=False, sizes=sizes
    )


def exact_jaccard_verify(
    sh: DataFrame,
    cands: DataFrame,
    threshold: float,
    materialize_sh: bool = True,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs over hashed shingle
    ROWS: |A ∩ B| is a count of matching 8-byte hashes per pair — no
    string comparison, no array materialization. All joins are UNHINTED
    equi-joins (candidate cardinality is data-dependent; AQE decides
    broadcast at runtime).

    ``sh`` is consumed by THREE subtrees (per-doc sizes, pair join
    left, pair join right); by default it is materialized once
    (localCheckpoint of narrow (id, hash) rows) so the upstream
    tokenize/shingle pipeline runs exactly once — callers that pass an
    already-materialized frame set ``materialize_sh=False``
    (r13 optimization, guide §5). ``sizes`` optionally injects a
    precomputed (id, n_sh) frame — callers that already aggregate per
    doc (the MinHash signature fold) piggyback the count on that
    exchange instead of paying a dedicated pass here."""
    if materialize_sh:
        sh = sh.localCheckpoint(eager=True)
    if sizes is None:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pair_sh = sh.join(cands, sh["id"] == cands["id_a"]).select("id_a", "id_b", "h")
    common = (
        pair_sh.join(
            sh.select(F.col("id").alias("id_b2"), F.col("h").alias("h2")),
            (F.col("id_b") == F.col("id_b2")) & (F.col("h") == F.col("h2")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    with_a = common.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
    )
    return (
        with_a
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- persisted MinHash-LSH index: incremental dedup without recompute ------

# Stamped into index table properties; bump whenever shingling/hashing/
# banding changes so stale persisted indexes are detected (an index built
# by an older kernel would silently change candidate recall otherwise).
INDEX_KERNEL_VERSION = "2"

# Probe-time (band, key) density cap: a long-running streamed index skips
# the per-batch stop-shingle cap by design (per-batch doc-freq is
# meaningless), so hot buckets must be bounded where GLOBAL frequency is
# knowable — at probe time. A bucket of m entries emits O(m²) candidate
# pairs; entries past this cap are boilerplate signatures, not near-dups.
STOP_BUCKET_MAX_DF = STOP_SHINGLE_MAX_DF


def _density_cache_path(table, snapshot_id: int) -> str:
    # under _cache/: regenerable sidecar, excluded from orphan GC
    # (maintenance.orphan_files) and from Spark directory listings
    # (underscore-prefixed paths are hidden by convention)
    return f"{table.location}/_cache/density-{snapshot_id}.parquet"


def minhash_index_density(spark, table) -> DataFrame | None:
    """Per-(band, key) distinct-doc density of the index's CURRENT
    snapshot, cached at ``_cache/density-<snapshot-id>.parquet`` so a
    probe never re-aggregates the full index (r6 wrong #2: every probe
    paid one full index pass).

    Maintained INCREMENTALLY: when the nearest ancestor snapshot with a
    cached density is reachable through append-only commits, the new
    density = ancestor stats + distinct counts of just the appended
    entries (incremental scan). The AGGREGATION is O(batch); the cache
    REWRITE is O(distinct buckets) of narrow pre-aggregated rows — far
    cheaper than the full-index distinct-count shuffle it replaces, but
    not free (an ingest-heavy probe-light workload can pass
    ``max_band_df=None`` to skip density entirely). Any
    non-append commit in between (compaction rewrites files) falls
    back to one full aggregation, cached thereafter. Additivity is
    exact when each doc id is indexed once (the ingest contract; the
    streaming sink's replay protection upholds it) — a re-ingested id
    inflates density, which only drops a bucket EARLIER (conservative).

    Returns None for an empty index. Concurrent probes may race on the
    write; the content is deterministic per snapshot, so last-writer-
    wins is benign."""
    from ..iceberg.metadata import OP_APPEND

    snap = table.current_snapshot()
    if snap is None:
        return None
    io = table.io
    cur_path = _density_cache_path(table, snap.snapshot_id)
    if io.exists(cur_path):
        return spark.read.parquet(cur_path)

    by_id = {s.snapshot_id: s for s in table.metadata.snapshots}
    base = None
    s = snap
    while s is not None:
        if s.operation != OP_APPEND:
            break  # cannot roll counts forward through a rewrite
        p = by_id.get(s.parent_snapshot_id) if s.parent_snapshot_id else None
        if p is None:
            break
        if io.exists(_density_cache_path(table, p.snapshot_id)):
            base = p
            break
        s = p

    if base is not None:
        prior = spark.read.parquet(_density_cache_path(table, base.snapshot_id))
        inc = table.scan().incremental_to_df(
            spark, base.snapshot_id, snap.snapshot_id
        )
        fresh = inc.groupBy("band", "key").agg(
            F.count_distinct("id").cast("long").alias("df")
        )
        density = (
            prior.unionByName(fresh)
            .groupBy("band", "key")
            .agg(F.sum("df").cast("long").alias("df"))
        )
    else:
        density = (
            table.scan()
            .to_df(spark)
            .groupBy("band", "key")
            .agg(F.count_distinct("id").cast("long").alias("df"))
        )
    try:
        density.write.mode("overwrite").parquet(cur_path)
    except Exception:  # noqa: BLE001 — read-only/foreign-owned location
        # the cache is an optimization, not a correctness dependency:
        # a probe against an index it cannot write to (read-only mount,
        # another principal's bucket) degrades to computing the density
        # per call instead of failing the probe (r7 review). A FAILED
        # write may have left a partial directory that io.exists would
        # later trust — remove it THROUGH THE TABLE'S IO (r7 advice: a
        # raw shutil.rmtree silently no-ops on scheme-prefixed /
        # object-store locations, leaving partial stats that a later
        # exists() hit would read) so the next call recomputes
        try:
            io.remove_dir(cur_path)
        except Exception:  # noqa: BLE001 — best-effort on foreign stores
            pass
        return density
    # retire stale caches, KEEPING current + parent: a concurrent
    # probe holding the pre-ingest table handle may still lazily
    # reference the parent snapshot's cache (r7 review — deleting it
    # mid-plan failed that probe's distributed-fallback read). Listing
    # and deletion go through the table's io so retirement also works
    # on object-store locations (stale caches there are cheap but not
    # free at 100 TB ingest rates).
    cache_dir = f"{table.location}/_cache"
    keep = {cur_path.rsplit("/", 1)[-1]}
    if snap.parent_snapshot_id is not None:
        keep.add(f"density-{snap.parent_snapshot_id}.parquet")
    try:
        for fn in io.list_dir(cache_dir):
            if fn.startswith("density-") and fn not in keep:
                io.remove_dir(f"{cache_dir}/{fn}")
    except Exception:  # noqa: BLE001 — listing is best-effort
        pass
    return spark.read.parquet(cur_path)


def _hot_buckets(density: DataFrame | None, max_band_df: int) -> DataFrame | None:
    if density is None:
        return None
    return density.filter(F.col("df") > max_band_df).select("band", "key")


# Hot (band, key) lists are tiny by construction (every over-cap bucket
# consumes > cap index rows, so |hot| <= |index|/cap) — but "tiny" is a
# heuristic, so the driver-side fast path is guarded: above this many
# hot buckets we fall back to the distributed anti-join.
_HOT_COLLECT_GUARD = 100_000


def _drop_hot(e: DataFrame, hot: DataFrame | None) -> DataFrame:
    """Anti-join ``e`` against the hot-bucket list, with a guarded
    driver fast path: the dominant case is ZERO hot buckets, where the
    anti-join (a sort or broadcast build over the full entry stream)
    would be pure overhead — collect up to the guard, skip the join
    when empty, inline a broadcast list when small, and fall back to
    the distributed join only past the guard."""
    if hot is None:
        return e
    rows = hot.limit(_HOT_COLLECT_GUARD + 1).collect()
    if not rows:
        return e
    if len(rows) > _HOT_COLLECT_GUARD:
        return e.join(hot, ["band", "key"], "left_anti")
    hot_df = e.sparkSession.createDataFrame(rows, "band int, key bigint")
    return e.join(F.broadcast(hot_df), ["band", "key"], "left_anti")


def minhash_index_create(
    location: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
):
    """Create an EMPTY banded MinHash index table: band-partitioned
    (band int, key bigint, id bigint) rows, LSH parameters pinned in
    table properties so every later writer/prober hashes identically."""
    from ..iceberg import write as W
    from ..iceberg.schema import Schema
    from ..iceberg.transforms import PartitionField, PartitionSpec, parse_transform
    from ..iceberg.types import IntegerType, LongType, NestedField

    schema = Schema(
        (
            NestedField(1, "band", IntegerType(), True),
            NestedField(2, "key", LongType(), True),
            NestedField(3, "id", LongType(), True),
        ),
        schema_id=0,
    )
    spec = PartitionSpec([PartitionField(1, 1000, "band", parse_transform("identity"))])
    return W.create_table(
        location,
        schema,
        spec=spec,
        properties={
            "lsh.num-hashes": str(num_hashes),
            "lsh.bands": str(bands),
            "lsh.ngram": str(n),
            "lsh.kernel-version": INDEX_KERNEL_VERSION,
        },
    )


def minhash_index_load_or_create(
    location: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
):
    """Load the index at ``location`` if one exists, else create it.

    An existing index must match the requested LSH parameters AND the
    current kernel version — probing with signatures hashed differently
    from what was indexed silently loses recall, so a mismatch raises
    instead of appending incompatible entries."""
    from ..iceberg.io import load_io
    from ..iceberg.table import Table

    # existence via the FileIO protocol, NOT os.path.exists: the
    # stripped form of an s3:// location never exists locally, so an
    # existing remote index would be silently re-created (r6 review)
    io = load_io(location)
    hint = location.rstrip("/") + "/metadata/version-hint.text"
    if not io.exists(hint):
        return minhash_index_create(location, num_hashes, bands, n)
    t = Table.from_location(location)
    want = {
        "lsh.num-hashes": str(num_hashes),
        "lsh.bands": str(bands),
        "lsh.ngram": str(n),
        "lsh.kernel-version": INDEX_KERNEL_VERSION,
    }
    have = {k: t.properties.get(k) for k in want}
    if have != want:
        raise ValueError(
            f"existing MinHash index at {location} is incompatible: "
            f"has {have}, requested {want}; drop it or rebuild"
        )
    return t


def minhash_index_write(
    spark,
    docs: DataFrame,
    location: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
):
    """Materialize a corpus's banded MinHash index as an Iceberg table
    partitioned by band: rows (band int, key bigint, id bigint), LSH
    parameters pinned in table properties.

    The 100 TB posture for CONTINUOUS ingestion: signatures are computed
    once per document ever — a new corpus slice appends its 20-byte
    (band, key, id) entries and is deduped by probing the index
    (minhash_dedup_incremental), instead of re-sharding the full corpus
    per batch. Band partitioning means a probe's (band, key) equi-join
    prunes to matching band partitions in the metadata plane."""
    from ..iceberg import write as W

    entries = minhash_band_entries(
        docs, text_col, id_col, num_hashes, bands, n, max_doc_freq
    ).select(F.col("band").cast("int").alias("band"), "key", "id")
    # load-or-create: writing a new corpus slice into an existing index
    # APPENDS (the whole point of the persisted index); the old behavior
    # of unconditionally re-creating silently discarded prior entries
    t = minhash_index_load_or_create(location, num_hashes, bands, n)
    t = W.append(t, entries)
    # eagerly roll the density cache forward (O(batch) via incremental
    # scan from the pre-append snapshot) so probes never pay an index
    # pass; lazily self-heals at probe time if this is skipped
    minhash_index_density(spark, t)
    return t


def minhash_dedup_from_index(
    spark,
    table,
    corpus: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_df: int | None = STOP_BUCKET_MAX_DF,
) -> DataFrame:
    """Near-dup pairs of the WHOLE corpus from the persisted index
    alone: self-join the stored (band, key) entries for candidates,
    then exact-Jaccard verify via texts semi-joined to candidate ids.
    Signatures are never recomputed — the dedup a warehouse runs
    nightly over an index its ingestion streams maintain.

    Hot (band, key) buckets above ``max_band_df`` distinct docs are
    dropped BEFORE the self-join (they would emit O(m²) pairs and a
    stream-maintained index never applied the batch stop-shingle cap);
    this restores the batch path's density guarantee at probe time,
    where global frequency is knowable. Density comes from the
    snapshot-keyed cache (minhash_index_density) — the hot-bucket list
    is small (<= index/cap rows), and AQE broadcasts the anti-join."""
    n = int(table.properties.get("lsh.ngram", "3"))
    e = table.scan().to_df(spark).select("band", "key", "id")
    if max_band_df is not None:
        hot = _hot_buckets(minhash_index_density(spark, table), max_band_df)
        e = _drop_hot(e, hot)
    cands = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        # three consumers (ids ×2, verify join); candidate pairs are
        # 16-byte rows — materialize once (r13 optimization, guide §5)
        .localCheckpoint(eager=True)
    )
    ids = cands.select(F.col("id_a").alias("id")).unionByName(
        cands.select(F.col("id_b").alias("id"))
    ).distinct()
    needed = corpus.join(ids.withColumnRenamed("id", id_col), id_col, "left_semi")
    sh = shingle_hash_rows(needed, text_col, id_col, n)
    return exact_jaccard_verify(sh, cands, threshold)


def minhash_dedup_incremental(
    spark,
    table,
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
    max_band_df: int | None = STOP_BUCKET_MAX_DF,
) -> DataFrame:
    """Near-dup pairs involving at least one NEW document, probing the
    persisted index instead of re-hashing the old corpus.

    Candidates = new band entries ⋈ (stored ∪ new) entries on
    (band, key); verification computes EXACT Jaccard over raw shingle
    hashes of only the docs that appear in some candidate pair
    (semi-join against ``corpus`` recovers just those texts — at scale
    this touches O(candidates) documents, not the corpus). Stored
    entries stream through the Iceberg scan path; LSH parameters come
    from the index's table properties, so probe hashing always matches
    what was indexed. Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    num_hashes = int(table.properties.get("lsh.num-hashes", "32"))
    bands = int(table.properties.get("lsh.bands", "8"))
    n = int(table.properties.get("lsh.ngram", "3"))

    new_e = minhash_band_entries(
        new_docs, text_col, id_col, num_hashes, bands, n, max_doc_freq
    ).select(F.col("band").cast("int").alias("band"), "key", "id")
    if max_band_df is not None:
        # the batch's entries feed BOTH the density merge and the probe
        # join; without a persist the signature computation (the
        # expensive xxhash fold over shingles) runs twice. Narrow
        # (band, key, id) rows, batch-sized. The returned DataFrame's
        # lineage keeps this cache referenced, so a long-lived session
        # issuing many probes would accumulate cached blocks (r7
        # advice); each call releases the PREVIOUS probe's cache for
        # this index — correctness-safe (worst case the previous,
        # not-yet-collected result recomputes its signatures), bounding
        # residency to one batch per index (r8 advice #3: one slot for
        # all indexes let a probe on index B release index A's cache).
        new_e = session_cache.rotate(
            spark, ("minhash_probe", table.location), new_e.persist()
        )
    stored = table.scan().to_df(spark).select("band", "key", "id")
    all_e = stored.unionByName(new_e)
    # density cap over the UNION (global frequency); capping the build
    # side alone suffices — probe rows in a dropped bucket match nothing.
    # Stored density comes from the snapshot-keyed cache; only the NEW
    # batch is aggregated here (O(batch), not O(index) — r6 wrong #2)
    if max_band_df is not None:
        new_density = new_e.groupBy("band", "key").agg(
            F.count_distinct("id").cast("long").alias("df")
        )
        stored_density = minhash_index_density(spark, table)
        total = (
            new_density
            if stored_density is None
            else stored_density.unionByName(new_density)
            .groupBy("band", "key")
            .agg(F.sum("df").cast("long").alias("df"))
        )
        all_e = _drop_hot(all_e, _hot_buckets(total, max_band_df))
    cands = (
        new_e.alias("a")
        .join(
            all_e.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
        # three consumers (ids ×2, verify join); candidate pairs are
        # 16-byte rows — materialize once (r13 optimization, guide §5)
        .localCheckpoint(eager=True)
    )
    ids = cands.select(F.col("id_a").alias("id")).unionByName(
        cands.select(F.col("id_b").alias("id"))
    ).distinct()
    needed = corpus.join(
        ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    # verification is exact Jaccard over ALL shingles (no stop-shingle
    # drop): the candidate layer is the only approximation
    sh = shingle_hash_rows(needed, text_col, id_col, n)
    return exact_jaccard_verify(sh, cands, threshold)


def md5_hash32(c: Column) -> Column:
    """Portable 32-bit hash: the first 8 hex chars of md5, as bigint.
    Slower than xxhash64 (use only where cross-engine reproducibility
    matters — DuckDB computes the identical value from md5())."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def _long_sql(m: int) -> str:
    """A bigint literal as Spark SQL text. LONG_MIN cannot be written
    directly (the parser sees unary minus applied to an out-of-range
    positive literal) — emit it as an exact constant-folded expression."""
    if m == -(1 << 63):
        return "(-9223372036854775807L - 1L)"
    return f"{m}L"


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    nbits: int = 64,
    hash_col=None,
) -> DataFrame:
    """(id, sh bigint) SimHash via the scalable explode + groupBy
    pattern (whole-stage codegen end to end): one row per shingle,
    ``nbits`` per-bit ±1 contributions as flat SUM aggregates,
    sign-assembled into the fingerprint.

    ``hash_col`` maps a shingle Column to its bigint hash (default
    xxhash64 — fastest JVM path); the correctness gate passes
    ``md5_hash32`` with ``nbits=32`` so DuckDB can recompute the whole
    pipeline independently.

    r14 (guide §1.2 — driver-side cost): the ``nbits`` per-bit
    aggregates and the sign assembly are built as parsed SQL strings
    (one py4j call each) instead of composed Column objects — the old
    form issued ~11k py4j round-trips (~1.5 s of socket wait per plan
    construction, measured with cProfile at sf0.1). The parsed
    expressions are token-identical (sum(CASE WHEN (h & m) != 0 THEN 1
    ELSE -1 END); integer arithmetic), so the analyzed plan and every
    output value are unchanged."""
    hash_col = hash_col or F.xxhash64
    masks = [1 << b if b < 63 else -(1 << 63) for b in range(nbits)]
    rows = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("s")
    ).select("id", hash_col(F.col("s")).alias("h"))
    sums = rows.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h & {_long_sql(m)}) != 0 "
                f"THEN 1 ELSE -1 END) AS b{b}"
            )
            for b, m in enumerate(masks)
        ]
    )
    sh_sql = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {_long_sql(m)} ELSE 0L END)"
        for b, m in enumerate(masks)
    )
    return sums.select("id", F.expr(f"({sh_sql}) AS sh"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    nbits: int = 64,
    hash_col=None,
) -> DataFrame:
    """SimHash near-dup via Manku-style block-permutation candidates
    (WWW'07 "Detecting Near-Duplicates for Web Crawling"): split the
    signature into ``max_hamming + 3`` blocks; a pair within hamming h
    differs in at most h blocks, so it AGREES on at least 3 — and every
    3-block combination is a candidate table, so recall is pigeonhole-
    exact. Verified by exact popcount.

    Why not plain 4-band LSH: 4 bands of 16 bits key a FIXED 2^16
    space, so candidate collisions grow O(n²/2^16) — the r4 scale
    self-check measured 45× cost at 10× corpus. Block keys concatenate
    3 blocks (~32 bits of agreement for 64-bit signatures), cutting
    collisions to O(C(6,3)·n²/2^32) — ~3×10^4 fewer — at the cost of
    C(6,3)=20 exploded rows per doc instead of 4. Same exact-recall
    guarantee, and the gate's brute-force oracle is unchanged.

    Dup-heavy guard: web-scale corpora carry huge identical-signature
    groups, and those pairs would collide in EVERY table (20× join
    fan-out on exactly the pairs that need no LSH at all). So
    hamming-0 pairs come from ONE equality join on the 8-byte
    signature, and the block tables run over DISTINCT signatures only;
    verified signature pairs expand back to id pairs via two joins.
    """
    from itertools import combinations

    d = simhash_df(df, text_col, id_col, nbits=nbits, hash_col=hash_col)
    # The signature frame feeds FIVE consumers (identity self-join ×2,
    # distinct, id expansion ×2); without a persist the shingle
    # explode + 64-way groupBy — the expensive part — recomputes for
    # each (r8 verdict #4: this is the dedup_simhash cost creep;
    # measured 3.18 s → 1.39 s at sf0.1 with the persist). Narrow
    # (id, sh) rows, O(docs)×16 B; releasing the previous call's frame
    # bounds residency to the latest call.
    d = session_cache.rotate(d.sparkSession, "simhash_signatures", d.persist())
    # 1. identical signatures (hamming 0): instead of a separate
    #    id-level self-join, ONE groupBy(sh) serves both the distinct
    #    signature set for the block tables AND the ≥2-member groups
    #    whose pairs are hamming-0 — the equal-signature pairs ride the
    #    same id-expansion joins as the verified block pairs, removing
    #    a full exchange + join of the signature frame
    #    (r13 optimization, guide §2.4).
    counts = d.groupBy("sh").agg(F.count(F.lit(1)).alias("_n"))
    eq_pairs = counts.filter(F.col("_n") >= 2).select(
        F.col("sh").alias("sh_a"),
        F.col("sh").alias("sh_b"),
        F.lit(0).alias("hamming"),
    )

    # 2. distinct signatures through the block tables
    uniq = counts.select("sh")
    n_blocks = max_hamming + 3
    agree = n_blocks - max_hamming
    base, extra = divmod(nbits, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    # block/table-key expressions as parsed SQL (r14, guide §1.2): the
    # 20-combo struct array cost hundreds of py4j round trips per plan
    # construction when composed as Column objects; the parsed text is
    # expression-identical (shiftrightunsigned & mask, shifted-add key)
    def block_sql(i: int) -> str:
        return (
            f"(shiftrightunsigned(sh, {offsets[i]}) & {(1 << widths[i]) - 1})"
        )

    def table_key_sql(combo: tuple[int, ...]) -> str:
        key = "CAST(0 AS BIGINT)"
        shift = 0
        for i in combo:
            key = f"({key} + (CAST({block_sql(i)} AS BIGINT) * {1 << shift}))"
            shift += widths[i]
        return key

    combos = list(combinations(range(n_blocks), agree))
    structs = ", ".join(
        f"named_struct('sh', sh, 'tbl', {t}, 'key', {table_key_sql(combo)})"
        for t, combo in enumerate(combos)
    )
    tables = uniq.select(
        F.expr(f"explode(array({structs})) AS bk")
    ).select("bk.sh", "bk.tbl", "bk.key")
    ta, tb = tables.alias("a"), tables.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    # verify hamming BEFORE the distinct: the popcount filter runs
    # map-side inside the join stage, so the dedup exchange carries only
    # the (usually tiny) verified signature-pair set
    sig_pairs = (
        ta.join(
            tb,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.sh") < F.col("b.sh")),
        )
        .select(
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
            hamming.alias("hamming"),
        )
        .filter((F.col("hamming") > 0) & (F.col("hamming") <= max_hamming))
        .distinct()
    )
    # expand verified signature pairs to id pairs (ordered). Equal-sig
    # (hamming-0) pairs expand through the SAME joins: their fan-out is
    # the group's id cross product, filtered to id_a < id_b so each
    # unordered doc pair emits once (self-pairs drop out with it).
    all_pairs = sig_pairs.unionByName(eq_pairs)
    ma = d.select(F.col("sh").alias("sh_a"), F.col("id").alias("_ida"))
    mb = d.select(F.col("sh").alias("sh_b"), F.col("id").alias("_idb"))
    return (
        all_pairs.join(ma, "sh_a")
        .join(mb, "sh_b")
        .filter((F.col("hamming") > 0) | (F.col("_ida") < F.col("_idb")))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: corpus docs sharing at least one
    word n-gram with a benchmark/eval set — the screen every training
    corpus runs before a model ships.

    Scale path: both sides explode to distinct (id, 8-byte shingle
    hash) rows; the LEFT SEMI join keys on the hash, so the shuffle
    carries 16 B/shingle and the (small) benchmark side is broadcast
    by AQE when it measures small. No text crosses an exchange."""

    def grams(d: DataFrame):
        return d.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        ).select("id", F.xxhash64("g").alias("h"))

    bench_h = grams(benchmark).select("h").distinct()
    return (
        grams(corpus)
        .join(bench_h, "h", "left_semi")
        .select("id")
        .distinct()
        .select(F.col("id").alias(id_col))
    )


def neardup_groups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components of a near-dup pair graph: (id, rep) where
    ``rep`` is the smallest doc id in the component — the grouping step
    that turns pairwise near-dup hits into keep-one-representative
    dedup decisions.

    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup components are dense, so
    typically 2-3). Each round is one shuffle join + one aggregate on
    8-byte (id, label) pairs — never the documents; lineage is
    truncated per round (localCheckpoint) so plans stay flat at any
    iteration count. The driver-side loop tests a scalar converged
    count per round — the per-round data never leaves the cluster.
    Only docs appearing in some pair are labeled (singletons are
    trivially their own representative)."""
    edges = pairs.select("id_a", "id_b")
    sym = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    # materialize the edge list ONCE: `sym`'s lineage is the entire
    # pair-generation pipeline (shingle explode + inverted-index
    # self-join + jaccard verify), and without truncation EVERY round's
    # join re-ran it from the raw corpus — measured 9.7→163 s at 10×
    # data on a ~5k-edge graph (r7 scale guard). Narrow 16-byte rows,
    # edge-count sized.
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("id_a").alias("id")).distinct().withColumn("rep", F.col("id"))
    )
    for _ in range(max_iter):
        # r13 (guide §2.4): one round = neighbor-min aggregate + a
        # least() merge that records whether the label moved, so the
        # convergence test is a filter-count over the round's OWN
        # materialized frame — the previous shape paid a second
        # shuffle join (new ⋈ old labels) per round just to count
        # changes. Every id has >=1 edge (labels is built from sym),
        # so the merge join is inner and nmin is never null.
        nmin = (
            sym.join(labels, sym["id_b"] == labels["id"])
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("rep").alias("_nmin"))
        )
        new = (
            labels.join(nmin, "id")
            .select(
                "id",
                F.least(F.col("rep"), F.col("_nmin")).alias("rep"),
                (F.col("_nmin") < F.col("rep")).alias("_moved"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.filter(F.col("_moved")).count()
        labels = new.select("id", "rep")
        if changed == 0:
            break
    else:
        # exhausting max_iter without a zero-change round means some
        # component's diameter exceeds the budget: returning here would
        # hand back MULTIPLE reps for one true component and dedup
        # would silently keep near-duplicates (r6 review) — fail loud.
        raise RuntimeError(
            f"neardup_groups did not converge in {max_iter} rounds: a "
            "component's diameter exceeds max_iter — raise max_iter "
            "(rounds are O(1) shuffles on 8-byte pairs, so a larger "
            "budget is cheap)"
        )
    return labels.select(F.col("id"), F.col("rep"))


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    with_totals: bool = False,
):
    """Exact-substring contamination at n-gram granularity (the
    Spark-first shape of Lee et al.'s suffix-array substring dedup):
    flag every token position whose n-gram also occurs in at least
    ``min_docs - 1`` OTHER documents.

    Plan: posexplode the positional n-gram array, collapse each gram
    to its 64-bit xxhash64 immediately, count DISTINCT docs per hash,
    and semi-join the flagged hashes back to positions. Only
    (hash, doc, pos) longs ever shuffle — the text stays in its scan —
    and the distinct-doc count is a partial-aggregated groupBy, so the
    plan is two narrow shuffles regardless of corpus size.

    r13 (guide §1.2 "don't compute things twice"): the exploded gram
    frame feeds TWO subtrees (the hot-hash aggregate and the probe side
    of the semi-join), so it is materialized once via localCheckpoint —
    narrow (id, pos, hash) longs, ~the same bytes a shuffle of it would
    write — where the previous shape re-ran the regex tokenizer and the
    n-gram explode per consumer.

    Returns (id, pos, gram_hash) for every flagged position; callers
    aggregate (span-merging is a per-doc window over pos). With
    ``with_totals=True`` also returns a per-doc total-gram-count frame
    (id, n_grams) derived from the SAME materialized explode — callers
    that need totals (dedup_substring_spans) previously paid a third
    full tokenization for them.
    """
    grams = (
        df.select(
            F.col(id_col),
            F.posexplode(word_ngrams(F.col(text_col), n)).alias("pos", "gram"),
        )
        .select(id_col, "pos", F.xxhash64("gram").alias("gram_hash"))
        .localCheckpoint(eager=True)
    )
    hot = (
        grams.groupBy("gram_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram_hash")
    )
    flagged = grams.join(hot, "gram_hash", "left_semi").select(
        id_col, "pos", "gram_hash"
    )
    if with_totals:
        totals = grams.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams")
        )
        return flagged, totals
    return flagged


def source_overlap(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source
    pair, how many near-duplicate document pairs (n-gram Jaccard >=
    threshold) span them — the standard corpus audit before mixing
    sources into a training set (a high off-diagonal count means one
    source republishes another and the mix double-counts its content).

    Pairs come from MinHash-LSH candidates verified by exact Jaccard
    (same pair set as the inverted index at recall 1.0 — the oracled
    dedup_minhash_lsh property — with banded 8-keys/doc joins instead
    of every-shingle joins), then two id→source joins and an unordered
    (least, greatest) normalization. Jaccard extremes are min/max
    (order-independent), not averages: float sums depend on reduction
    order and would not be engine-stable.

    ``pairs`` injects a precomputed (id_a, id_b, jaccard) frame (r7
    verdict #6): composing select + overlap + dedup on one corpus
    otherwise regenerates the banded LSH pairs per operator — share one
    ``minhash_dedup_pairs(...).persist()`` across the pipeline to cut
    the composed cost ~3x."""
    if pairs is None:
        pairs = minhash_dedup_pairs(
            df, text_col, id_col, threshold, n=n, max_doc_freq=max_doc_freq
        )
    src = df.select(F.col(id_col).alias("_id"), F.col(source_col).alias("_src"))
    labeled = (
        pairs.join(src.withColumnRenamed("_id", "id_a").withColumnRenamed("_src", "src_of_a"), "id_a")
        .join(src.withColumnRenamed("_id", "id_b").withColumnRenamed("_src", "src_of_b"), "id_b")
    )
    return (
        labeled.select(
            F.least("src_of_a", "src_of_b").alias("src_a"),
            F.greatest("src_of_a", "src_of_b").alias("src_b"),
            "jaccard",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def neardup_select(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = STOP_SHINGLE_MAX_DF,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Keep-one-representative selection over near-dup components: the
    kept doc per group is the LONGEST (non-ws chars), ties by lowest id
    — the usual curation policy (longer near-dup usually supersets the
    shorter), and an integer-exact, engine-stable ordering.

    Pipeline composition: MinHash-LSH candidates verified by exact
    Jaccard (identical pair set to the inverted-index path at recall
    1.0 — the oracled property of dedup_minhash_lsh — at ~6× less
    shuffle at 10× scale: banding joins 8 keys/doc instead of every
    shingle) → min-label components (8-byte iterative propagation) →
    one per-group window over (component, length, id). Returns
    (group_rep, kept_id, n_members); docs in no component are
    implicitly kept and not listed.

    ``pairs`` injects a precomputed (id_a, id_b, jaccard) frame shared
    with source_overlap / dedup (r7 verdict #6) so a composed curation
    pipeline generates the banded pairs once."""
    from pyspark.sql import Window

    if pairs is None:
        pairs = minhash_dedup_pairs(
            df, text_col, id_col, threshold, n=n, max_doc_freq=max_doc_freq
        )
    groups = neardup_groups(pairs)
    lens = df.select(
        F.col(id_col).alias("id"),
        F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
        .cast("bigint")
        .alias("_len"),
    )
    w = Window.partitionBy("rep").orderBy(F.desc("_len"), F.asc("id"))
    ranked = groups.join(lens, "id").withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("rep").alias("group_rep"))
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("id"))).alias("kept_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
