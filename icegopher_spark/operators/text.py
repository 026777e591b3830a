"""Text-analysis operators for LLM-data pipelines.

All hot-path logic is built from JVM-side ``pyspark.sql.functions``
(regexp/array expressions inside whole-stage codegen) — no Python UDFs —
so the same code scales from the sf0.01 test tables to a 100 TB corpus:
each operator is a narrow map over the ``documents`` table with no
shuffle at all.

Capabilities beyond the reference surface (zeroshade/icegopher has no
data plane); mandated by the project north star (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import session_cache

# Deterministic stopword lists used by the language-ID heuristic.
# Ordered: first match wins in the tie-break (score desc, lang asc).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "es": ["el", "la", "que", "de", "es"],
    "fr": ["le", "la", "et", "est", "les"],
}

# Punctuation class written to mean the same thing in Java regex (Spark)
# and RE2 (DuckDB oracle) — avoid POSIX classes which differ.
_PUNCT_CLASS = r"""[.,;:!?'"()\[\]{}-]"""


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties removed (split-on-\\s+ leaves a
    leading '' when the string starts with whitespace)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"\S+")).cast("bigint")


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish pre-tokenizer pieces: alpha runs, digit runs,
    or single non-alphanumeric non-space chars."""
    return F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).cast("bigint")


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(_PUNCT_CLASS)).cast("bigint")


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Total occurrences of any of ``words`` as whole words. Words are
    regex-escaped — a caller-supplied 'c++' or 'e.g.' must count as a
    literal, not compile as quantifiers/wildcards (r6 review). ``\\b``
    is applied per word edge only where the word actually starts/ends
    with a word character: Java's \\b between two NON-word chars never
    matches, so '\\bc\\+\\+\\b' could not match 'c++ ' at all."""
    import re as _re

    def _wordy(w: str) -> bool:
        return bool(w) and (w[0].isalnum() or w[0] == "_") and (
            w[-1].isalnum() or w[-1] == "_"
        )

    # words fully bounded by word chars share one \b(...)\b group (the
    # common case — keeps the compiled regex as small/fast as before);
    # irregular words get per-edge boundaries
    wordy = [w for w in words if _wordy(w)]
    pieces = []
    if wordy:
        pieces.append(r"\b(" + "|".join(_re.escape(w) for w in wordy) + r")\b")
    for w in words:
        if not _wordy(w):
            pre = r"\b" if (w and (w[0].isalnum() or w[0] == "_")) else ""
            suf = r"\b" if (w and (w[-1].isalnum() or w[-1] == "_")) else ""
            pieces.append(pre + _re.escape(w) + suf)
    return F.regexp_count(F.lower(col), F.lit("|".join(pieces))).cast("bigint")


def _bind1(value: Column, fn) -> Column:
    """Evaluate ``value`` once and let ``fn`` reference it many times
    (the dedup.bind1 trick, local copy to avoid an import cycle):
    Catalyst's CollapseProject inlines a projected expression into
    every downstream reference; routing the value through a 1-element
    higher-order ``transform`` introduces a lambda binding so it is
    computed once per row."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def lang_id(col: Column) -> Column:
    """n-gram/stopword heuristic language ID.

    Scores each candidate language by whole-word stopword hits
    normalized nothing fancy — ties broken by language code ascending,
    zero hits → 'und' (undetermined), mirroring CLD-style outputs.

    r13 optimization (guide §1.2 per-task work): each language's
    stopword regex is referenced exactly ONCE. The previous CASE-WHEN
    chain re-stated ``greatest(4 regex counts)`` in every branch, and
    codegen subexpression elimination skips conditional branches — so
    every inlined copy (filters AND projections) re-ran each regex up
    to ~10×; measured 2.5 s → 0.9 s on the corpus_curation gate's
    dedup stage at sf0.1. array_max over (score, inverted-index)
    structs picks the max score with ties to the ascending language
    code, bound through a lambda so the winner is evaluated once."""
    langs = sorted(LANG_STOPWORDS)
    n = len(langs)
    # max by (score, n-1-i): equal scores pick the larger inverted
    # index = the ascending-first language code — the old tie rule
    scored = F.array(
        *[
            F.struct(
                stopword_hits(col, LANG_STOPWORDS[lang]).alias("score"),
                F.lit(n - 1 - i).alias("inv"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    lang_by_inv = F.array(*[F.lit(langs[n - 1 - inv]) for inv in range(n)])
    return _bind1(
        F.array_max(scored),
        lambda best: F.when(
            best.getField("score") > 0,
            F.element_at(lang_by_inv, best.getField("inv") + 1),
        ).otherwise(F.lit("und")),
    )


def quality_score(text_col: Column) -> Column:
    """Deterministic document-quality score in [0, 100].

    Components (equal-weight, each clamped to [0,1]):
      * length score: min(n_chars / 1000, 1)
      * token-length score: mean token length in [3, 8] → 1, else decays
      * punctuation sanity: 1 - min(punct_ratio * 10, 1)
      * stopword presence: min(stopword_density * 20, 1)
    """
    n_chars = F.length(text_col).cast("double")
    n_tok = token_count(text_col).cast("double")
    n_tok_safe = F.greatest(n_tok, F.lit(1.0))
    # true mean token length = non-whitespace chars / tokens. The old
    # (n_chars - (n_tok - 1)) form assumed exactly one separator char
    # between tokens, so newline-heavy or padded docs scored inflated
    # token lengths (r6 review). translate() is a char-map, not a
    # regex pass — same \s set ([ \t\n\x0B\f\r]) at ~half the cost of
    # regexp_count over every document.
    n_ws = n_chars - F.length(F.translate(text_col, " \t\n\x0b\f\r", "")).cast("double")
    mean_tok_len = (n_chars - n_ws) / n_tok_safe
    len_score = F.least(n_chars / F.lit(1000.0), F.lit(1.0))
    tok_score = F.when((mean_tok_len >= 3) & (mean_tok_len <= 8), F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - F.abs(mean_tok_len - F.lit(5.5)) / F.lit(10.0))
    )
    punct_ratio = punct_count(text_col).cast("double") / F.greatest(n_chars, F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_density = stopword_hits(text_col, all_stop).cast("double") / n_tok_safe
    stop_score = F.least(stop_density * 20, F.lit(1.0))
    return F.round((len_score + tok_score + punct_score + stop_score) * 25.0, 4)


def fingerprint64(col: Column) -> Column:
    """64-bit document fingerprint: xxhash64 over the normalized token
    stream (lowercase, punctuation stripped). JVM-side, no shuffle.

    Reference parity note: icegopher has no text plane; this supports
    the dedup extension (SURVEY.md §2.9 [X])."""
    normalized = F.concat_ws(" ", tokens(F.lower(F.regexp_replace(col, _PUNCT_CLASS, " "))))
    return F.xxhash64(normalized)


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document statistics frame — narrow map, zero shuffles."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("n_chars"),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        punct_count(t).alias("n_punct"),
        F.round(F.length(t) / F.greatest(token_count(t), F.lit(1)).cast("double"), 4).alias(
            "chars_per_token"
        ),
    )


def repetition_stats(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document n-gram repetition: total vs distinct word n-grams
    and the repeated fraction — the standard boilerplate/spam signal a
    curation pipeline thresholds on (heavily repeated text is low-value
    training data).

    Pure narrow map (array expressions, no UDF, no shuffle); ratio is
    0 for docs shorter than n tokens. The gram array and the two sizes
    materialize in their own projections: higher-order functions are
    interpreted (CodegenFallback) with no common-subexpression
    elimination, so inlining the gram build into every output column
    would tokenize each document ~6× (Catalyst keeps the staged
    projects because the expressions are non-cheap and multiply
    referenced)."""
    from .dedup import word_ngrams

    staged = df.select(
        F.col(id_col), word_ngrams(F.col(text_col), n).alias("_grams")
    ).select(
        F.col(id_col),
        F.size("_grams").cast("bigint").alias("n_grams"),
        F.size(F.array_distinct("_grams")).cast("bigint").alias("n_distinct_grams"),
    )
    return staged.select(
        id_col,
        "n_grams",
        "n_distinct_grams",
        F.when(
            F.col("n_grams") > 0,
            F.round(
                (F.col("n_grams") - F.col("n_distinct_grams"))
                / F.col("n_grams").cast("double"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


# PII patterns written to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB oracle): no lookarounds, no POSIX classes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub emails and phone numbers — the redaction pass a training
    corpus runs before anything ships. Counts per category plus an md5
    of the redacted text (the digest lets a gate verify the REPLACED
    string byte-for-byte without shipping the text anywhere).

    Pure codegen narrow map: regexp_count + two chained regexp_replace,
    zero shuffles, nothing text-sized leaves the scan stage.

    ``n_phones`` is counted on the EMAIL-REDACTED text, matching the
    chained replacement the digest certifies: replacements interact
    ('555-123-4567@mail.com' is consumed whole by the email pass; an
    email ending in digits can expose a phone boundary), so counting
    both on the original text could disagree with the substitutions
    actually present in the redacted string (r6 review)."""
    t = F.col(text_col)
    after_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(after_email, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
    )


def doc_word_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, w, m) word multiplicities per document — the shared
    tokenize-once frame (r13): the BPE learner's global vocabulary is
    its (w, sum m) rollup and the encoder's per-doc fan-out is an
    equi-join against it, so a learn-then-encode pipeline tokenizes
    the corpus exactly once instead of three times."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("m"))
    )


def _bounded_vocab(
    docs: DataFrame,
    text_col: str,
    min_count: int,
    max_vocab: int | None,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """(word, cnt) vocabulary with an EXPLICIT driver bound: words below
    ``min_count`` are dropped executor-side, and ``max_vocab`` keeps only
    the top-K by (cnt DESC, word) — Spark's sort-limit runs as
    TakeOrderedAndProject (per-partition top-K, K-row merge), so the
    driver never holds more than ``max_vocab`` rows no matter how
    heavy-tailed the corpus (URLs/typos in 100 TB multilingual web text
    produce hundreds of millions of distinct tokens).

    ``word_counts`` optionally injects a precomputed ``doc_word_counts``
    frame; the global count is then its exact integer rollup."""
    if word_counts is not None:
        words = word_counts.groupBy("w").agg(
            F.sum("m").cast("bigint").alias("cnt")
        )
    else:
        words = (
            docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    if min_count > 1:
        words = words.filter(F.col("cnt") >= min_count)
    if max_vocab is not None:
        words = words.orderBy(F.desc("cnt"), F.asc("w")).limit(max_vocab)
    return words


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab: int | None = 1_000_000,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """First ``n_merges`` byte-pair-encoding merge rules over the
    whitespace-tokenized, lowercased corpus (the vocabulary-induction
    step of tokenizer training). Classic BPE: count adjacent symbol
    pairs weighted by word frequency, merge the most frequent pair
    everywhere (ties broken lexicographically by (left, right)),
    repeat.

    Scale posture (tokenizer training wants 30k+ merges): the ONLY
    corpus-scale operation is the initial word count (one
    partial-aggregated shuffle of (word, 1) — this is what scales with
    100 TB); the merge loop then runs DRIVER-SIDE over the collected
    vocabulary, whose size is EXPLICITLY bounded before collect:
    ``min_count`` (default 2) drops hapax tokens executor-side —
    sub-floor merges are tokenizer noise — and ``max_vocab`` (default
    1M) caps the driver materialization at top-K by (cnt DESC, word)
    even for adversarially heavy-tailed corpora, so the driver holds
    at most ~max_vocab narrow rows (~tens of MB at the default; BPE
    merge selection only ever needs the head of the frequency
    distribution, so 1M words is ample for 30k+ merges). Pass
    ``min_count=1, max_vocab=None`` to reproduce unbounded classic
    BPE on small corpora.
    Pair counts are maintained incrementally through a pair→words
    inverted index, so each merge touches only the words containing
    the merged pair. Total Spark jobs: O(1) regardless of n_merges
    (the round-5 shape ran 2 jobs + 1 driver roundtrip PER merge —
    ~60k jobs for a 30k-merge tokenizer).

    Merge application is greedy left-to-right non-overlapping
    ('aaaa' + rule (a,a) -> ['aa','aa']), ties broken lexicographically
    by (left, right) — byte order equals codepoint order in UTF-8, so
    Spark/DuckDB/Python agree on the tie-break.

    Returns (rank, left_sym, right_sym, freq), rank in [1, n_merges].
    """
    import heapq
    from collections import Counter, defaultdict

    spark = docs.sparkSession
    words = _bounded_vocab(docs, text_col, min_count, max_vocab, word_counts)
    vocab = [(r["w"], int(r["cnt"])) for r in words.collect()]
    syms: list[list[str]] = [list(w) for w, _ in vocab]
    cnts = [c for _, c in vocab]

    pair_freq: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, s in enumerate(syms):
        c = cnts[i]
        for j in range(len(s) - 1):
            p = (s[j], s[j + 1])
            pair_freq[p] += c
            pair_words[p].add(i)

    # lazy-invalidation max-heap on (freq desc, pair asc): stale entries
    # (freq changed since push) are skipped on pop — O(log P) per merge
    # instead of an O(P) scan, which is what makes 30k merges tractable
    heap = [(-f, p) for p, f in pair_freq.items()]
    heapq.heapify(heap)

    def _push(p: tuple[str, str]) -> None:
        f = pair_freq.get(p)
        if f:
            heapq.heappush(heap, (-f, p))

    rules: list[tuple[int, str, str, int]] = []
    for k in range(n_merges):
        best = None
        while heap:
            nf, p = heapq.heappop(heap)
            if pair_freq.get(p) == -nf:
                best = (p, -nf)
                break
        if best is None:
            break
        (l, r), freq = best
        rules.append((k + 1, l, r, int(freq)))
        merged = l + r
        for i in list(pair_words[(l, r)]):
            s, c = syms[i], cnts[i]
            # retract the word's old pair multiset, apply the merge
            # greedily left-to-right, then add the new one back
            touched = set()
            for j in range(len(s) - 1):
                p = (s[j], s[j + 1])
                pair_freq[p] -= c
                if pair_freq[p] <= 0:
                    del pair_freq[p]
                touched.add(p)
                ws = pair_words[p]
                ws.discard(i)
                if not ws:
                    del pair_words[p]
            out, j = [], 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == l and s[j + 1] == r:
                    out.append(merged)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[i] = out
            for j in range(len(out) - 1):
                p = (out[j], out[j + 1])
                pair_freq[p] += c
                touched.add(p)
                pair_words[p].add(i)
            for p in touched:
                _push(p)
    return spark.createDataFrame(
        rules, "rank bigint, left_sym string, right_sym string, freq bigint"
    )


# Gopher quality-filter rules (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", table A1 — the de-facto standard web-corpus
# pre-filter). The 8 high-frequency English words whose PRESENCE
# (>= 2 distinct) the paper requires:
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher quality-rule counters and the keep verdict.

    All rules evaluate in INTEGER arithmetic (e.g. mean word length in
    [3, 10] as ``3*n_words <= n_word_chars <= 10*n_words``), so the
    verdict is engine-exact — no float-division boundary can flip
    between Spark and an oracle. Pure codegen column ops: one pass,
    no shuffle, no UDF; at 100 TB this is a map-only filter.

    Rules (keep = all pass):
      * 50 <= n_words <= 100,000
      * mean word length in [3, 10] (word chars = non-whitespace chars)
      * symbol-to-word ratio <= 0.1 (symbols: '#', '...', ellipsis char)
      * <= 10% of lines start with a bullet (•, *, -)
      * <= 30% of lines end with an ellipsis
      * >= 80% of words contain an alphabetic character
      * >= 2 of the 8 required English words present
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks).cast("bigint")
    n_word_chars = F.length(
        F.regexp_replace(t, r"\s", "")
    ).cast("bigint")
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\.|…")).cast("bigint")
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("bigint")
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[•*-]"))
    ).cast("bigint")
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    ).cast("bigint")
    n_alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    low = F.lower(t)
    n_stop_present = sum(
        F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0)
        for w in GOPHER_REQUIRED_WORDS
    ).cast("bigint")

    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_symbols.alias("n_symbols"),
        n_lines.alias("n_lines"),
        n_bullet_lines.alias("n_bullet_lines"),
        n_ellipsis_lines.alias("n_ellipsis_lines"),
        n_alpha_words.alias("n_alpha_words"),
        n_stop_present.alias("n_stop_present"),
    )
    keep = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000)
        & (F.col("n_word_chars") >= 3 * F.col("n_words"))
        & (F.col("n_word_chars") <= 10 * F.col("n_words"))
        & (10 * F.col("n_symbols") <= F.col("n_words"))
        & (10 * F.col("n_bullet_lines") <= F.col("n_lines"))
        & (10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines"))
        & (5 * F.col("n_alpha_words") >= 4 * F.col("n_words"))
        & (F.col("n_stop_present") >= 2)
    )
    return out.withColumn("keep", keep)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every character ``k``-gram, slide a
    window of ``w`` consecutive hashes, select each window's MINIMUM
    (ties -> rightmost), emit the distinct selected (position, hash)
    set. Guarantees at least one shared fingerprint for any match of
    length >= w + k - 1 — the local-fingerprint property exact-hash
    sampling (0 mod p) lacks.

    Engine-portable and integer-exact: the gram hash is the md5-derived
    32-bit value (DuckDB computes the identical one), and the
    rightmost-min selection is ONE windowed ``min`` over the combined
    key ``h * 2^20 + (2^20 - pos)`` — (hash asc, pos desc) ordering
    packed into a single bigint, so both engines pick the same
    position without an argmin construct. Docs longer than 2^20 chars
    refuse loudly rather than mis-pack.

    Returns (doc_id, pos, fp_hash), one row per selected fingerprint.

    Scale: explode to O(chars) gram rows, ONE window pass per doc
    (shuffle on doc_id only), distinct on the tiny selected set. No
    UDFs; the substring/md5/min pipeline is whole-stage codegen.
    """
    from pyspark.sql import Window

    M = 1 << 20
    t = F.col(text_col)
    # packing-bound guard INSIDE the plan (raise_error branch) — a
    # separate validation count() would add a full extra pass over the
    # text column per call
    t = F.when(F.length(t) < M, t).otherwise(
        F.raise_error(
            F.lit(
                f"winnow_fingerprints packs positions into {M}; a "
                "document exceeds it — raise M or chunk the document first"
            )
        )
    )
    n_grams = F.length(t) - k + 1
    g = (
        df.select(
            F.col(id_col).alias("doc_id"),
            t.alias("_t"),
            # sequence(1, 0) would COUNT DOWN in Spark; empty-array
            # guard drops sub-k docs instead
            F.explode(
                F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5(F.col("_t").substr(F.col("pos"), F.lit(k))), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    key = F.col("h") * M + (F.lit(M) - F.col("pos"))
    sel = (
        g.select(
            "doc_id",
            F.min(key).over(win).alias("_k"),
            F.count(F.lit(1)).over(win).alias("_c"),
        )
        .filter(F.col("_c") == w)  # only FULL windows select
        .select(
            "doc_id",
            # integer decode: / would go through DOUBLE and lose
            # exactness past 2^53 — shift/mask instead (M = 2^20)
            (F.lit(M) - F.col("_k").bitwiseAND(M - 1)).alias("pos"),
            F.shiftright("_k", 20).cast("bigint").alias("fp_hash"),
        )
        .distinct()
    )
    return sel


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dolma-style PARAGRAPH-level exact dedup: split documents on
    newlines, keep each distinct (trimmed) paragraph's FIRST
    corpus-wide occurrence (ordered by (doc_id, position)), drop every
    later duplicate, and reassemble each document in original order —
    the standard boilerplate-stripping pass (nav bars, cookie banners,
    "subscribe" footers) that document-level dedup cannot touch.

    Whitespace-only paragraphs always survive: they are structure, not
    content, and dropping "the second empty line in the corpus" would
    mangle every document.

    Returns (doc_id, kept_text, n_paragraphs, n_dropped).

    Scale: the global first occurrence per hash comes from a
    ``groupBy(hash).agg(min(struct(doc, pos)))`` — PARTIAL-aggregated,
    so a boilerplate paragraph present in every document (the whole
    point of this operator) is combined map-side instead of funneling
    into one rank-window partition that sorts N rows in a single task
    (the skew trap a row_number-over-hash formulation has). One
    aggregation shuffle on 32-byte hashes + one equi-join back + one
    reassembly shuffle on doc_id — O(paragraphs), nothing all-pairs.
    """
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"),
    ).withColumn("h", F.md5(F.trim(F.col("para"))))
    firsts = (
        paras.filter(F.trim(F.col("para")) != "")
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("_first"))
    )
    ranked = paras.join(firsts, "h", "left").withColumn(
        "keep",
        (F.trim(F.col("para")) == "")
        | (F.struct("doc_id", "pos") == F.col("_first")),
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("kept_text"),
    )


def bigram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus bigram language-model rarity signals per document,
    INTEGER-exact (the KenLM-style quality-scoring shape without the
    float trap).

    Bigrams are consecutive lowered whitespace-token pairs. The corpus
    pair counts ``c12`` and left counts ``c1`` feed per-document:

      n_bigrams            bigram instances in the doc
      corpus_occurrences   Σ c12 over the doc's instances — high when
                           the doc is made of common continuations
      n_singletons         instances whose pair occurs ONCE in the
                           corpus (text unique to this doc)
      lm_score             avg -log2 P(w2|w1) = avg log2(c1/c12), the
                           classic LM quality score. FLOAT — exposed
                           for ranking but NOT oracle-gated: a float
                           log-sum is reduction-order-dependent across
                           engines (same rule as Shannon entropy in
                           char_diversity).

    Docs with <2 tokens have no bigrams and drop out (both engines).

    Scale: one explode + one groupBy over distinct pairs (the model),
    one equi-join of doc instances to pair counts, one per-doc
    roll-up — O(tokens) shuffled twice, nothing all-pairs; the pair
    model can be broadcast when small.
    """
    arr = tokens(F.lower(F.col(text_col)))
    shifted = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    pairs = F.filter(
        F.zip_with(arr, shifted, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
        lambda p: p["w2"].isNotNull(),
    )
    bg = df.select(F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # ONE token-scale exchange for the whole operator (r13 batch 4,
    # guide §2.4): hash-partitioning the raw explode on (w1, w2) lets
    # — by the subset-clustering rule — the per-doc multiplicity
    # aggregate (doc, w1, w2), the corpus pair count (w1, w2) AND the
    # dbg ⋈ cc equi-join all run exchange-free on top of it. The
    # previous shape partitioned dbg by its own grouping key, so cc's
    # aggregate and BOTH join sides each paid another exchange of
    # pair-scale rows. c1 still shuffles (distinct-pair scale, tiny)
    # and the final per-doc rollup shuffles doc-scale rows.
    bg = bg.repartition("w1", "w2")
    dbg = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m"))
    # persisted because the (w1, w2)-partitioned frame feeds the pair
    # count AND the join probe (narrow (doc, pair, m) rows; rotating
    # the slot bounds residency to the latest call) — the cache
    # preserves the shared partitioning, so downstream stays
    # exchange-free
    dbg = session_cache.rotate(dbg.sparkSession, "bigram_dbg", dbg.persist())
    cc = dbg.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    c1 = cc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    joined = dbg.join(cc, ["w1", "w2"]).join(c1, ["w1"])
    return joined.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("m") * F.col("c12")).cast("bigint").alias("corpus_occurrences"),
        F.sum(F.when(F.col("c12") == 1, F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        (
            F.sum(F.col("m") * F.log2(F.col("c1") / F.col("c12"))) / F.sum("m")
        ).alias("lm_score"),
    )


def lm_quality_filter(
    df: DataFrame,
    lo_avg: int = 2,
    hi_avg: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-band curation on the bigram model (the CCNet/Gopher
    move of dropping BOTH tails of the LM-quality distribution): a doc
    keeps iff the AVERAGE corpus frequency of its bigrams lies in
    [lo_avg, hi_avg] — too LOW means rare continuations no model has
    seen (gibberish tail), too HIGH means boilerplate every other doc
    also says. The band test is integer arithmetic
    (``lo·n ≤ Σc12 ≤ hi·n``), so verdicts are engine-exact where a
    perplexity float threshold would not be. Band edges are
    corpus-dependent — calibrate them off bigram_stats percentiles.

    Returns bigram_stats columns + keep. Same scale shape as
    bigram_stats (it IS bigram_stats + a map).
    """
    s = bigram_stats(df, text_col, id_col)
    keep = (F.col("corpus_occurrences") >= lo_avg * F.col("n_bigrams")) & (
        F.col("corpus_occurrences") <= hi_avg * F.col("n_bigrams")
    )
    return s.withColumn("keep", keep)


# C4's naughty-word screen uses the full "List of Dirty, Naughty,
# Obscene..." blocklist; shipping that list adds nothing to the
# engineering, so this STUB carries a tiny deterministic sample — the
# rule's plumbing (word-boundary match over the lowered page) is real
# and oracle-checked, swap the tuple for the full list in production.
C4_NAUGHTY_STUB = ("xxxshock", "gorefest", "slurstub")


def c4_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document C4 cleaning counters and the keep verdict (Raffel
    et al. 2020 §2.2, the rules that are deterministic per page):

      line level (a line SURVIVES iff all three hold):
        * ends in terminal punctuation (. ! ? or closing quote)
        * contains >= 3 words
        * does not contain the word "javascript" (case-insensitive)
      page level (keep = all hold):
        * >= 5 sentences (sentences = terminal-punct marks [.!?] in
          the SURVIVING lines — a deterministic proxy both engines
          compute identically; the paper does not pin a tokenizer)
        * the phrase "lorem ipsum" absent (lowered page)
        * no curly brace '{'
        * no blocklist word (C4_NAUGHTY_STUB; word-boundary match)

    Emits the counters, the verdict, and ``kept_chars`` (length of the
    surviving text) so downstream can weigh the cleaning loss. Pure
    codegen column ops — one pass, no shuffle, no UDF; map-only at
    100 TB. The 3-sentence-span dedup step of C4 is a separate
    operator (dedup.substring spans).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    survives = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike(r'[.!?"”]$')
        & (F.size(F.filter(F.split(l, r"\s+"), lambda w: w != F.lit(""))) >= 3)
        & ~F.lower(l).rlike(r"\bjavascript\b"),
    )
    kept_text = F.array_join(survives, "\n")
    low = F.lower(t)
    n_naughty = sum(
        F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0) for w in C4_NAUGHTY_STUB
    ).cast("bigint")

    out = df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(survives).cast("bigint").alias("n_kept_lines"),
        F.regexp_count(kept_text, F.lit(r"[.!?]")).cast("bigint").alias("n_sentences"),
        F.length(kept_text).cast("bigint").alias("kept_chars"),
        low.contains("lorem ipsum").alias("has_lorem_ipsum"),
        t.contains("{").alias("has_curly_brace"),
        (n_naughty > 0).alias("has_naughty_word"),
    )
    keep = (
        (F.col("n_sentences") >= 5)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_curly_brace")
        & ~F.col("has_naughty_word")
    )
    return out.withColumn("keep", keep)


def _dup_counts(parts: Column) -> tuple[Column, Column, Column, Column]:
    """(n, n_dup, chars, dup_chars) over a pre-split array of non-empty
    text units: duplicates = occurrences beyond each unit's first, so
    n_dup = n - n_distinct and dup_chars = chars - distinct_chars."""
    ne = F.filter(parts, lambda p: p != F.lit(""))
    dist = F.array_distinct(ne)
    chars = F.aggregate(
        ne, F.lit(0).cast("bigint"), lambda acc, p: acc + F.length(p)
    )
    dchars = F.aggregate(
        dist, F.lit(0).cast("bigint"), lambda acc, p: acc + F.length(p)
    )
    n = F.size(ne).cast("bigint")
    return n, n - F.size(dist).cast("bigint"), chars, chars - dchars


def repetition_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MassiveText repetition rules (Gopher paper, table A1): documents
    dominated by repeated lines/paragraphs are spam or boilerplate.

    Rules (keep = all pass; integer arithmetic — engine-exact):
      * duplicate-line fraction <= 0.30        (10*dup <= 3*n)
      * duplicate-line CHAR fraction <= 0.20   (5*dup_chars <= chars)
      * duplicate-paragraph fraction <= 0.30   (paragraphs = blank-line
        separated)
      * duplicate-paragraph CHAR fraction <= 0.20

    A unit's "duplicates" are its occurrences beyond the first, so the
    counts reduce to array_distinct deltas — pure array expressions,
    one map pass, no shuffle, no UDF. Empty docs keep (0 <= 0).

    DEVIATION from the paper: Gopher/MassiveText's char-fraction rules
    count the characters of EVERY occurrence of a duplicated unit
    (first occurrence included); this implementation counts only the
    occurrences beyond the first (chars - distinct_chars), so it is
    strictly more permissive on the char-fraction rules. The oracle
    matches this definition; use ``repetition_filter_strict`` for the
    paper-exact counts.
    Complements ``repetition_stats`` (within-doc n-gram repetition)
    and ``gopher_rules`` (the paper's non-repetition rules)."""
    t = F.col(text_col)
    ln, ln_dup, lchars, lchars_dup = _dup_counts(F.split(t, "\n"))
    pn, pn_dup, pchars, pchars_dup = _dup_counts(F.split(t, "\n\n"))
    out = df.select(
        F.col(id_col),
        ln.alias("n_lines"),
        ln_dup.alias("n_dup_lines"),
        lchars.alias("line_chars"),
        lchars_dup.alias("dup_line_chars"),
        pn.alias("n_paras"),
        pn_dup.alias("n_dup_paras"),
        pchars.alias("para_chars"),
        pchars_dup.alias("dup_para_chars"),
    )
    keep = (
        (10 * F.col("n_dup_lines") <= 3 * F.col("n_lines"))
        & (5 * F.col("dup_line_chars") <= F.col("line_chars"))
        & (10 * F.col("n_dup_paras") <= 3 * F.col("n_paras"))
        & (5 * F.col("dup_para_chars") <= F.col("para_chars"))
    )
    return out.withColumn("keep", keep)


def _dup_counts_strict(parts: Column) -> tuple[Column, Column, Column, Column]:
    """(n, n_dup, chars, dup_chars) where a "duplicated" unit is one
    appearing more than once and dup counts include EVERY occurrence
    (the paper-exact MassiveText definition, vs ``_dup_counts``'s
    beyond-the-first). Still one map pass, no shuffle: sort the array,
    then a single F.aggregate fold counts runs — a run of length r > 1
    contributes r to n_dup and r*len to dup_chars."""
    ne = F.filter(parts, lambda p: p != F.lit(""))
    srt = F.array_sort(ne)
    zero = F.lit(0).cast("bigint")
    start = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("dup_n"),
        zero.alias("dup_chars"),
    )

    def merge(acc: Column, p: Column) -> Column:
        same = acc["prev"].eqNullSafe(p)
        ended_dup = (~same) & (acc["run"] > 1)
        return F.struct(
            p.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.when(ended_dup, acc["dup_n"] + acc["run"])
            .otherwise(acc["dup_n"])
            .alias("dup_n"),
            F.when(
                ended_dup,
                acc["dup_chars"] + acc["run"] * F.length(acc["prev"]),
            )
            .otherwise(acc["dup_chars"])
            .alias("dup_chars"),
        )

    def finish(acc: Column) -> Column:
        last_dup = acc["run"] > 1
        return F.struct(
            F.when(last_dup, acc["dup_n"] + acc["run"])
            .otherwise(acc["dup_n"])
            .alias("dup_n"),
            F.when(
                last_dup,
                acc["dup_chars"] + acc["run"] * F.length(acc["prev"]),
            )
            .otherwise(acc["dup_chars"])
            .alias("dup_chars"),
        )

    agg = F.aggregate(srt, start, merge, finish)
    chars = F.aggregate(ne, zero, lambda a, p: a + F.length(p))
    n = F.size(ne).cast("bigint")
    return n, agg["dup_n"], chars, agg["dup_chars"]


def repetition_filter_strict(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Paper-exact MassiveText repetition rules: identical thresholds to
    ``repetition_filter`` but a duplicated unit's count/chars include
    ALL its occurrences (Gopher table A1's definition), so this filter
    is strictly more aggressive. Same 100 TB posture: one map pass of
    array expressions per document, no shuffle, no UDF."""
    t = F.col(text_col)
    ln, ln_dup, lchars, lchars_dup = _dup_counts_strict(F.split(t, "\n"))
    pn, pn_dup, pchars, pchars_dup = _dup_counts_strict(F.split(t, "\n\n"))
    out = df.select(
        F.col(id_col),
        ln.alias("n_lines"),
        ln_dup.alias("n_dup_lines"),
        lchars.alias("line_chars"),
        lchars_dup.alias("dup_line_chars"),
        pn.alias("n_paras"),
        pn_dup.alias("n_dup_paras"),
        pchars.alias("para_chars"),
        pchars_dup.alias("dup_para_chars"),
    )
    keep = (
        (10 * F.col("n_dup_lines") <= 3 * F.col("n_lines"))
        & (5 * F.col("dup_line_chars") <= F.col("line_chars"))
        & (10 * F.col("n_dup_paras") <= 3 * F.col("n_paras"))
        & (5 * F.col("dup_para_chars") <= F.col("para_chars"))
    )
    return out.withColumn("keep", keep)


def char_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-diversity quality signal via the
    Gini–Simpson index: 1 − Σc_i²/n² over case-folded character counts
    (keyboard-mash and repeated-char spam concentrate mass in few
    characters; natural text sits high). The concentration numerator
    Σc_i² is an exact INTEGER (engine-stable, unlike Shannon entropy's
    order-sensitive float log sum), computed as a sorted-array
    run-length fold — one map pass, no shuffle, no UDF. Returns
    (id, n_chars, n_distinct, sum_sq, simpson[=round(1−Σc²/n²,6)];
    empty docs get simpson 0.0)."""
    # null text counts as empty (simpson 0.0), matching the oracle's
    # LEFT JOIN + COALESCE shape
    chars = F.array_sort(
        F.filter(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), ""),
            lambda c: c != F.lit(""),
        )
    )
    zero = F.lit(0).cast("bigint")
    start = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("sum_sq"),
        zero.alias("n_distinct"),
    )

    def merge(acc: Column, c: Column) -> Column:
        same = acc["prev"].eqNullSafe(c)
        return F.struct(
            c.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.when(same, acc["sum_sq"])
            .otherwise(acc["sum_sq"] + acc["run"] * acc["run"])
            .alias("sum_sq"),
            F.when(same, acc["n_distinct"])
            .otherwise(acc["n_distinct"] + 1)
            .alias("n_distinct"),
        )

    def finish(acc: Column) -> Column:
        return F.struct(
            (acc["sum_sq"] + acc["run"] * acc["run"]).alias("sum_sq"),
            acc["n_distinct"].alias("n_distinct"),
        )

    agg = F.aggregate(chars, start, merge, finish)
    n = F.size(chars).cast("bigint")
    out = df.select(
        F.col(id_col),
        n.alias("n_chars"),
        agg["n_distinct"].alias("n_distinct"),
        agg["sum_sq"].alias("sum_sq"),
    )
    return out.withColumn(
        "simpson",
        F.when(
            F.col("n_chars") > 0,
            F.round(
                1
                - F.col("sum_sq")
                / (F.col("n_chars") * F.col("n_chars")).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )


# MassiveText top-n-gram thresholds (Gopher table A1): max char share
# of the single most frequent word n-gram, in percent.
TOP_NGRAM_MAX_PCT = {2: 20, 3: 18, 4: 16}


def top_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per document and n in {2,3,4}: the most frequent word n-gram
    (ties by gram ascending), its occurrence count, the characters it
    covers (count × gram length), and the keep verdict against the
    MassiveText thresholds — integer-exact (100 × top_chars <= pct ×
    non-ws chars).

    Shape (r13, guide §2.3/§2.4): ONE scan — the three gram arrays
    (each its own bind1-protected tokenizer run; sharing the token
    array through a projected column re-inlines the tokenizer per
    element, measured 15× slower at r7) are tagged with their n and
    exploded together — then one (doc, n, gram) count exchange and one
    (doc, n) min_by top-1 exchange. The previous shape ran 3 scans,
    3 count exchanges, 3 row_number window sorts and a union; min_by
    additionally partial-aggregates map-side (each map task collapses
    to one candidate row per (doc, n) before the exchange), where a
    window must shuffle every distinct gram row and sort it."""
    from .dedup import word_ngrams

    t = F.col(text_col)
    def _tag(n: int):
        # single-parameter lambda: a second parameter would make
        # F.transform pass the ELEMENT INDEX as its value
        return lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("gram"))

    tagged = F.concat(
        *[F.transform(word_ngrams(t, n), _tag(n)) for n in TOP_NGRAM_MAX_PCT]
    )
    g = df.select(
        F.col(id_col),
        F.length(F.regexp_replace(t, r"\s", "")).cast("bigint").alias("n_word_chars"),
        F.explode(tagged).alias("p"),
    ).select(id_col, "n_word_chars", F.col("p.n").alias("n"), F.col("p.gram").alias("gram"))
    counted = g.groupBy(id_col, "n_word_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # top-1 by (cnt desc, gram asc) == min_by over the (-cnt, gram)
    # ordering struct; gram is unique per group so the pick is
    # deterministic, and the chosen gram's cnt IS max(cnt)
    top = counted.groupBy(id_col, "n_word_chars", "n").agg(
        F.min_by(
            F.col("gram"),
            F.struct((-F.col("cnt")).alias("_a"), F.col("gram").alias("_b")),
        ).alias("gram"),
        F.max("cnt").alias("cnt"),
    )
    top = top.withColumn(
        "top_chars", (F.col("cnt") * F.length("gram")).cast("bigint")
    )
    thr = F.create_map(
        *[x for n, pct in TOP_NGRAM_MAX_PCT.items() for x in (F.lit(n), F.lit(pct))]
    )
    return top.select(
        id_col,
        "n",
        F.col("gram").alias("top_gram"),
        F.col("cnt").alias("top_cnt"),
        "top_chars",
        "n_word_chars",
        (100 * F.col("top_chars") <= thr[F.col("n")] * F.col("n_word_chars")).alias(
            "keep"
        ),
    )


def _spaced(col: Column) -> Column:
    """The boundary-safe BPE working representation: every symbol a
    fully-delimited ' X ' unit, adjacent units double-space separated
    (' a  b  c '), so literal replace of ' l  r ' -> ' lr ' can never
    merge across what is actually a single multi-char symbol."""
    return F.regexp_replace(col, "(.)", " $1 ")


def bpe_encode_counts(
    docs: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document BPE token count after applying ``rules`` (learned
    by ``bpe_merges``; applied sequentially by rank, each greedy
    left-to-right — the learner's own application semantics).

    Pure-JVM path for bounded rule lists: the corpus EXPLODES to
    (doc, word) once, encoding runs over DISTINCT words only (the same
    vocabulary-not-corpus trick the learner uses) as a chain of literal
    `replace` expressions over the spaced representation — whole-stage
    codegen, no Python. One equi-join fans the per-word counts back
    out, one groupBy sums per doc. For tokenizer-scale rule sets
    (30k+, where a 30k-deep expression chain won't compile) use
    ``bpe_encode_counts_arrow``.

    ``word_counts`` optionally injects a precomputed ``doc_word_counts``
    frame (r13): the encoder then never touches the raw text — the
    per-doc total is Σ m·ntok over multiplicities, exactly equal to
    the per-instance sum — and the join side shrinks from O(tokens)
    to O(distinct doc-words)."""
    spark = docs.sparkSession
    if word_counts is None:
        word_counts = doc_word_counts(docs, text_col, id_col).withColumnRenamed(
            "doc_id", id_col
        )
    s = _spaced(F.col("w"))
    for left, right in rules:
        s = F.replace(
            s,
            F.lit(f" {left}  {right} "),
            F.lit(f" {left}{right} "),
        )
    enc = (
        word_counts.select("w")
        .distinct()
        .select("w", F.size(F.split(F.trim(s), "  ")).cast("bigint").alias("ntok"))
    )
    return (
        word_counts.join(enc, "w")
        .groupBy(id_col)
        .agg(F.sum(F.col("m") * F.col("ntok")).alias("n_bpe_tokens"))
    )


def bpe_encode_counts_arrow(
    docs: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-scale BPE encode: same semantics as
    ``bpe_encode_counts`` but the per-word merge loop runs in an
    Arrow-batched kernel with a per-batch distinct-word memo, so rule
    count is a Python loop bound, not an expression-tree depth. Rules
    ride to executors via the closure (a merges table is ~30k tuples,
    well under broadcast scale)."""
    import pandas as pd

    rule_list = list(rules)

    def _encode_word(w: str, memo: dict) -> int:
        n = memo.get(w)
        if n is not None:
            return n
        syms = list(w)
        for left, right in rule_list:
            out, j = [], 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and syms[j] == left
                    and syms[j + 1] == right
                ):
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        memo[w] = len(syms)
        return memo[w]

    def batches(it):
        for pdf in it:
            memo: dict[str, int] = {}
            counts = [
                sum(_encode_word(w, memo) for w in str(t).lower().split())
                for t in pdf[text_col].fillna("")
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "n_bpe_tokens": counts})

    return docs.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} long, n_bpe_tokens bigint"
    )


def oov_stats(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary counts against the corpus's own
    top-``vocab_size`` words (count DESC, word ASC — deterministic) —
    the coverage check run before committing to a tokenizer/vocab size.
    Returns (doc_id, n_tokens, n_oov) for non-empty docs; integer-exact.

    The vocab is a distributed top-K (TakeOrderedAndProject) kept as a
    DataFrame and hash-joined against the exploded token stream (AQE
    broadcasts it — vocab_size rows); one groupBy per doc aggregates
    counts. Corpus touched twice (vocab count + coverage join), both
    times as narrow (doc_id, word) rows."""
    words = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(vocab_size)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    return (
        words.join(vocab, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
