"""Text-analysis operators for document pipelines (north-star surface).

Language ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — all pure column expressions (JVM-side, inside
whole-stage codegen), no UDFs, so they cost one scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .constants import EN_STOPWORDS
from .dedup import tokens_col


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def stopword_fraction_col(text: Column | str) -> Column:
    toks = tokens_col(text)
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    return hits / F.size(toks)


def lang_id(df: DataFrame, text_col: str, id_col: str, threshold: float = 0.05) -> DataFrame:
    """Heuristic language ID: English iff the stopword fraction clears the
    threshold.  (A real model would be a broadcast n-gram profile table —
    same shape: scan + broadcast join, no shuffle.)"""
    frac = F.round(stopword_fraction_col(text_col), 6)
    return df.select(
        F.col(id_col),
        frac.alias("stopword_frac"),
        F.when(frac >= threshold, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
    )


def quality_expr(text_col: str) -> Column:
    """The composite quality score as a bare column expression, so
    streaming pipelines can gate on it without the projection shape
    :func:`quality_score` imposes (same formula, single source of
    truth)."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # chars minus separators
    return (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + distinct_ratio * 0.4
        + F.least(mean_tok_len / F.lit(10.0), F.lit(1.0)) * 0.2
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Document quality features: length, token count, mean token length,
    type-token ratio, and a composite score — one projection."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # chars minus separators
    score = quality_expr(text_col)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(distinct_ratio, 6).alias("type_token_ratio"),
        F.round(score, 6).alias("quality"),
    )


def doc_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set — catches shuffled/reordered duplicates that exact dedup
    misses."""
    toks = F.array_sort(F.array_distinct(tokens_col(text_col)))
    return df.select(
        F.col(id_col),
        F.md5(F.array_join(toks, " ")).alias("fingerprint"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer/
    Wilkerson/Aiken SIGMOD'03): hash every k-token shingle, slide a
    ``window`` over consecutive hashes, keep each window's minimum — the
    fingerprint SET per document (positions dropped; the guarantee that
    any match of length ≥ window+k−1 shares a fingerprint is unchanged).

    Pure window algebra: one posexplode + one (doc, pos) window min + a
    distinct — no UDF, one shuffle on the doc key.  Hashes use the
    md5-prefix integer recipe so the DuckDB oracle is bit-identical.
    Returns (id, fingerprint) distinct rows.
    """
    from pyspark.sql import Window

    # POSITIONAL shingles (no dedup — winnowing is defined on the k-gram
    # sequence; the dedup operators' array_distinct would break both the
    # match guarantee and cross-engine ordering)
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    n = F.size("__toks")
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("__toks"), i + j) for j in range(k)]
    )
    arr = toks.select(
        F.col(id_col),
        F.when(n >= k, F.transform(idx, mk))
        .otherwise(F.array().cast("array<string>"))
        .alias("__sh"),
    )
    e = arr.select(
        F.col(id_col), F.posexplode_outer("__sh").alias("pos", "s")
    ).where(F.col("s").isNotNull())
    h = e.select(
        F.col(id_col),
        F.col("pos"),
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long").alias("h"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    mins = h.select(
        F.col(id_col),
        F.min("h").over(w).alias("fingerprint"),
        F.count(F.lit(1)).over(w).alias("__full"),
    ).where(F.col("__full") == window)  # trailing partial windows excluded
    return mins.select(id_col, "fingerprint").distinct()


def gopher_quality_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.6,
    min_stopword_hits: int = 1,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 — the
    standard public heuristic battery for web-scale corpus filtering):
    token-count bounds, mean-token-length bounds, symbol-to-token ratio
    (# and ellipsis), alphabetic-word fraction, and a minimum stopword
    hit count.  One projection, every rule a boolean column plus the
    conjunction ``keep`` — no UDF, scan-speed, SQL-oracle-able.

    ``passthrough``: extra input columns carried into the output, so a
    downstream filter (``.where("keep")``) needs no join back to the
    source — the curation-pipeline composition path.
    """
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis) / n_tok
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = alpha_words / n_tok
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    rules = {
        "ok_n_tokens": (n_tok >= min_tokens) & (n_tok <= max_tokens),
        "ok_token_len": (mean_tok_len >= min_mean_token_len)
        & (mean_tok_len <= max_mean_token_len),
        "ok_symbols": symbol_ratio <= max_symbol_ratio,
        "ok_alpha": alpha_frac >= min_alpha_word_frac,
        "ok_stopwords": stop_hits >= min_stopword_hits,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        *[v.alias(k) for k, v in rules.items()],
        keep.alias("keep"),
    )


# BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to the regex
# subset Java and RE2 share — no lookahead): contractions, letter runs,
# digit runs, punctuation runs, whitespace runs
BPE_ISH_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s"


def bpe_token_count_col(text: Column | str) -> Column:
    """Approximate LLM token count via the BPE-ish pre-tokenizer regex —
    counts pre-token pieces (a real BPE splits pieces further, so this is
    a stable lower-bound proxy useful for budget accounting)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Both token-count flavors side by side: whitespace tokens and
    BPE-ish pre-tokens — one projection."""
    return df.select(
        F.col(id_col),
        token_count_col(text_col).alias("n_ws_tokens"),
        bpe_token_count_col(text_col).alias("n_bpe_tokens"),
    )


# engine-portable PII patterns (Java regex ∩ RE2: no lookarounds/backrefs)
# ORDER MATTERS: specific shapes before the greedy digit-run phone
# pattern (an SSN or card number is also a phone-shaped digit run; the
# typed placeholder must win).  Patterns stay in the Java∩RE2 subset and
# contain no single quotes, so the DuckDB oracles are GENERATED from
# this list verbatim (plans/registry_docs.py `_pii_scrub_sql_ctes`).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("card", r"\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b", "<CARD>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Redact common PII shapes (emails, IPv4, SSN-style ids,
    payment-card numbers, phone-like digit runs) with typed
    placeholders — a chained regexp_replace projection, scan-speed.
    Patterns stay in the Java∩RE2 regex subset so the DuckDB oracle runs
    the identical expressions.  Returns (id, scrubbed, n_redactions);
    each pattern's matches are counted against the PROGRESSIVELY scrubbed
    text (the same chaining as the replacements), so n_redactions equals
    the number of substitutions actually performed — a digit run inside
    an already-replaced <EMAIL> is not double-counted."""
    c: Column = F.col(text_col)
    n_terms = []
    for _, pat, repl in PII_PATTERNS:
        n_terms.append(F.size(F.regexp_extract_all(c, F.lit(pat), 0)))
        c = F.regexp_replace(c, pat, repl)
    n_red = sum(n_terms)
    return df.select(
        F.col(id_col),
        c.alias("scrubbed"),
        n_red.cast("long").alias("n_redactions"),
    )


# Gopher repetition-filter thresholds (Rae et al. 2021 Table A1):
# max fraction of characters in the most frequent word n-gram (n=2,3,4)
# and in duplicated word n-grams (n=5,6).
TOP_NGRAM_MAX_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX_FRAC = {5: 0.15, 6: 0.14}


def word_ngrams_col(toks: Column, n: int) -> Column:
    """Overlapping word ``n``-grams (space-joined) from a projected token
    array column — empty array when the doc has fewer than ``n`` tokens."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_fracs: dict[int, float] = TOP_NGRAM_MAX_FRAC,
    dup_fracs: dict[int, float] = DUP_NGRAM_MAX_FRAC,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, Table A1):
    per document, the fraction of characters covered by (a) the single
    most frequent word n-gram (n=2,3,4) and (b) all word n-grams that
    occur more than once (n=5,6), each against its published threshold,
    plus the conjunction ``keep``.

    Character coverage is counted as occurrences x n-gram string length
    (overlapping occurrences are NOT merged — the standard simplification
    used by public reimplementations, e.g. NVIDIA NeMo Curator / DataTrove;
    exact overlap-merged coverage needs per-position bookkeeping for a
    strictly lower number and the same keep decisions in practice).

    Scale shape: one projection builds every n-gram list, one explode +
    (doc, n, gram) group (map-side partial combine), one (doc, n) rollup,
    one broadcastable join back to the doc spine.  Shuffle volume is the
    n-gram count — linear in corpus tokens — keyed by doc so no skew
    beyond document length itself.
    """
    all_ns = sorted({*top_fracs, *dup_fracs})
    base = df.select(
        F.col(id_col), F.length(F.col(text_col)).alias("__chars"),
        tokens_col(text_col).alias("__toks"),
    )
    # NB: the tag lambda must be unary — F.transform treats a binary lambda
    # as (element, index) and would tag grams with their array position
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    gram_arrays = [
        F.transform(word_ngrams_col(F.col("__toks"), n), _tag(n)) for n in all_ns
    ]
    exploded = (
        base.select(
            F.col(id_col),
            F.col("__chars"),
            F.explode(F.flatten(F.array(*gram_arrays))).alias("__ng"),
        )
        .select(id_col, "__chars", F.col("__ng.n").alias("n"), F.col("__ng.g").alias("g"))
    )
    counted = exploded.groupBy(id_col, "__chars", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    glen = F.length(F.col("g"))
    per_n = counted.groupBy(id_col, "__chars", "n").agg(
        F.max(F.col("cnt") * glen).alias("top_chars"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * glen).otherwise(0)).alias(
            "dup_chars"
        ),
    )
    fracs = per_n.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(f"__top{n}")
            for n in top_fracs
        ],
        *[
            F.max(F.when(F.col("n") == n, F.col("dup_chars"))).alias(f"__dup{n}")
            for n in dup_fracs
        ],
    )
    # left join back onto the full doc spine: a doc shorter than every n
    # has no n-grams at all and must still appear (with zero fractions) —
    # __chars comes from the spine side so the division never sees a null
    out = base.select(id_col, "__chars").join(fracs, id_col, "left")
    cols: list[Column] = [F.col(id_col)]
    rules: list[Column] = []
    for n, mx in top_fracs.items():
        frac = F.coalesce(F.col(f"__top{n}"), F.lit(0)) / F.col("__chars")
        cols.append(F.round(frac, 6).alias(f"top_{n}gram_frac"))
        rules.append((frac <= mx).alias(f"ok_top_{n}gram"))
    for n, mx in dup_fracs.items():
        frac = F.coalesce(F.col(f"__dup{n}"), F.lit(0)) / F.col("__chars")
        cols.append(F.round(frac, 6).alias(f"dup_{n}gram_frac"))
        rules.append((frac <= mx).alias(f"ok_dup_{n}gram"))
    keep = None
    for r in rules:
        keep = r if keep is None else (keep & r)
    return out.select(*cols, *rules, keep.alias("keep"))


def ngram_decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Test-set decontamination by word n-gram collision (the standard
    published recipe — GPT-3 appendix C / PaLM / Llama use 8-13-gram
    overlap; ``n`` is a knob and defaults low only so tiny fixtures
    produce hits): flag every training document sharing at least one
    word n-gram with any test document.

    Returns one row per training doc: (id, n_shared_ngrams = DISTINCT
    shared n-grams, contaminated).  Scale shape: the test side collapses
    to a DISTINCT n-gram set — orders of magnitude smaller than the
    training corpus — and the training grams LEFT SEMI join it.  Spark
    builds a left semi join only from its right side, so the training
    stream can never be broadcast; AQE broadcasts the gram set when it
    measures it small at run time and sort-merges past that
    (decontaminating against a huge benchmark suite or a second corpus).
    Either way the training side is one scan + one explode; the per-doc
    count groups on the training doc id.
    """
    t_grams = lambda d: d.select(  # noqa: E731
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams_col(tokens_col(text_col), n))
        ).alias("g"),
    )
    hits = (
        t_grams(train)
        .join(t_grams(test).select("g").distinct(), "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__hits"), F.lit(0)).cast("long").alias("n_shared_ngrams"),
            (F.coalesce(F.col("__hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_report(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-TEST-document contamination attribution — the transpose of
    :func:`ngram_decontaminate` (which flags TRAIN docs): for every
    held-out document, how exposed is it, and through which training
    document most?  This is the report an eval-integrity review
    consumes: a benchmark item is compromised by what's IN the corpus,
    so the accounting has to be per test doc with the worst offender
    named.

    Returns one row per test doc: (test_id, n_train_docs = distinct
    training docs sharing >= 1 word n-gram, worst_train_id = the train
    doc sharing the MOST distinct n-grams with this test doc (ties to
    lowest id; NULL when clean), worst_shared = that gram count).

    Scale shape: per-doc-DISTINCT gram explosion on both sides, join on
    the gram.  The training grams LEFT SEMI join the test grams, then
    LEFT OUTER join the test side (grams WITH their doc ids); every row
    that passes the semi join has a match, so the rows are the inner
    join's.  Spark builds both joins only from the right (test) side,
    so the training stream can never be broadcast; AQE broadcasts the
    test side when it measures it small at run time and sort-merges
    past that.  The (test, train) pair fan-out per gram is inherent in
    the exact semantics — a boilerplate gram shared by many docs on
    both sides IS that much pairwise evidence; cap hot grams upstream
    (``dedup.hot_posting_keys``) when approximate attribution is
    acceptable.  Pair rows partial-aggregate on (test, train) before
    the per-test argmax — max(struct) keeps the worst-offender
    reduction map-side combinable, never a rank window over a hot test
    doc."""
    grams = lambda d, out: d.select(  # noqa: E731
        F.col(id_col).alias(out),
        F.explode(
            F.array_distinct(word_ngrams_col(tokens_col(text_col), n))
        ).alias("g"),
    )
    # NULL test ids are dropped up front, so no pair carries a NULL
    # test_id and the null-safe join back below matches exactly what an
    # equality join would.  It is null-safe because an equality join
    # lets the optimizer infer test_id IS NOT NULL under the aggregates
    # and turn the left pair join back into an inner one.
    te = grams(test.where(F.col(id_col).isNotNull()), "test_id")
    # both sides are per-doc DISTINCT, so count(*) per (test, train)
    # pair IS the distinct shared-gram count
    pair = (
        grams(train, "train_id")
        .join(te.select("g"), "g", "left_semi")
        .join(te, "g", "left")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # type-generic argmax: negate the COUNT (always numeric), never the
    # id — min(struct(-shared, train_id)) is largest-shared-then-lowest-
    # id for string/uuid ids exactly as for longs (negating the id would
    # NULL out non-numeric ids and pick an arbitrary offender)
    rep = pair.groupBy(F.col("test_id").alias("__tid")).agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.min(
            F.struct((-F.col("shared")).alias("ns"), F.col("train_id").alias("tid"))
        ).alias("w"),
    )
    return (
        test.select(F.col(id_col).alias("test_id"))
        .join(rep, F.col("test_id").eqNullSafe(F.col("__tid")), "left")
        .select(
            "test_id",
            F.coalesce(F.col("n_train_docs"), F.lit(0)).cast("long").alias(
                "n_train_docs"
            ),
            F.col("w.tid").alias("worst_train_id"),  # keeps the id's own type
            F.coalesce(-F.col("w.ns"), F.lit(0)).cast("long").alias("worst_shared"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping fixed-token-window chunks (the
    context-window packing / RAG-indexing staple): chunk k covers tokens
    [k*stride, k*stride + chunk_tokens); chunks start while k*stride <
    n_tokens, so the tail is a (possibly short) final chunk and every
    token lands in >=1 chunk.

    Pure posexplode over a sequence of starts + array slice — no UDF, no
    shuffle at all (the output keeps the input partitioning); at 100 TB
    this is a map-only stage whose output is ~chunk_tokens/stride x the
    input size.
    """
    toks = tokens_col(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(float(stride))).cast("int")
    starts = F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1)
    base = df.select(
        F.col(id_col), toks.alias("__toks"), F.posexplode(starts).alias("__k", "__s")
    )
    piece = F.slice(F.col("__toks"), F.col("__k") * stride + 1, chunk_tokens)
    return base.select(
        F.col(id_col),
        F.col("__k").cast("long").alias("chunk_id"),
        (F.col("__k") * stride).cast("long").alias("start_token"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact-substring duplication stats (the distributed analogue of
    Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better": their suffix-array pass marks every >=50-token substring
    that appears twice anywhere in the corpus; here the unit is the
    positional ``k``-token window, which over-counts a long shared span
    by its window count but flags exactly the same token positions).

    Per document: total window count, windows whose text occurs more
    than once corpus-wide (including self-repeats — Lee et al. count
    those), and the duplicated fraction.

    Scale shape: one explode (doc, window-hash) keeping positional
    multiplicity, one group-by-hash count (map-side partial combine),
    one shuffle-on-hash join back, one per-doc rollup.  Never pairwise
    in docs; shuffle volume is linear in corpus tokens.  Grouping on the
    128-bit md5 of the window rather than the window text itself keeps
    shuffle rows narrow.
    """
    grams = word_ngrams_col(tokens_col(text_col), k)
    pos = df.select(
        F.col(id_col), F.explode(F.transform(grams, F.md5)).alias("__h")
    )
    cnt = pos.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = (
        pos.join(cnt, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("__c") > 1, 1).otherwise(0)).alias("n_dup_windows"),
        )
    )
    spine = df.select(id_col)
    return (
        spine.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.round(F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def bm25_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document top-``top_k`` terms by BM25 weight (Robertson/
    Sparck Jones; the Okapi formula with the +1-smoothed idf =
    ln(1 + (N - df + 0.5)/(df + 0.5)) so weights are always positive),
    with classic tf-idf alongside.

    Scale shape: one explode → (doc, term, tf) group (map-side
    combine), a term-keyed df aggregation joined back on term (shuffle
    linear in distinct (doc, term) pairs), corpus scalars (N, avgdl) by
    cross-joining a 1-row aggregate (broadcast), and one per-doc window
    top-k.  Ordering ties broken by term text so the top-k set is
    deterministic.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        tf.join(dl, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    bm25 = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    tfidf = (F.col("tf") / F.col("dl")) * F.log(F.col("n_docs") / F.col("df"))
    w = Window.partitionBy(id_col).orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.select(
            F.col(id_col),
            F.col("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(bm25, 6).alias("bm25"),
            F.round(tfidf, 6).alias("tfidf"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "bm25", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def unigram_perplexity(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """CCNet-style LM quality score, with the corpus itself as the LM:
    add-one-smoothed unigram probabilities p(w) = (c(w)+1)/(T+V) fitted
    on the whole corpus, then per-document cross-entropy
    H = -(1/n)·Σ ln p(w_i) over token positions and perplexity exp(H).
    (CCNet ranks by a pretrained KenLM 5-gram; the dataflow — score
    every doc against a broadcastable LM table, keep head/middle/tail
    by percentile — is identical, and the unigram fit makes the whole
    thing closed-form and oracle-checkable.)

    Scale shape: one explode → (doc, term, tf) group, a term-keyed
    count aggregation (the "LM") joined back on term, corpus scalars
    via a broadcast 1-row cross join, one per-doc rollup.  Two linear
    shuffles, no driver-side state.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cw = tf.groupBy("term").agg(F.sum("tf").alias("cw"))
    corpus = cw.agg(
        F.sum("cw").alias("t_total"), F.count(F.lit(1)).alias("vocab")
    )
    logp = F.log(
        (F.col("cw") + 1.0) / (F.col("t_total") + F.col("vocab"))
    )
    per_doc = (
        tf.join(cw, "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("__h"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("__h"), 6).alias("cross_entropy"),
        F.round(F.exp(F.col("__h")), 6).alias("perplexity"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_ratio: float = 0.4,
    level: int = 6,
) -> DataFrame:
    """Deflate-compression-ratio quality signal (the RefinedWeb /
    MassiveText-family heuristic): highly compressible text is
    boilerplate or repetition; near-incompressible text is noise.
    Returns (id, n_bytes, ratio = deflate_bytes/utf8_bytes rounded to 6,
    keep = ratio > ``max_ratio``); empty documents get ratio null and
    keep false.

    zlib is not expressible as a column expression, so this is one
    Arrow-batched ``pandas_udf`` — per-batch Python cost, never per-row
    pickling; zlib level pinned so the ratio is a pure deterministic
    function of the bytes (same library everywhere in the cluster).
    Scale shape: one projection, zero shuffle.
    """
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    lvl = int(level)

    # no type hints: `from __future__ import annotations` stringifies
    # them, which the pandas_udf signature inference rejects
    @pandas_udf("double")
    def _ratio(texts):
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            if not raw:
                out.append(None)
                continue
            out.append(len(zlib.compress(raw, lvl)) / len(raw))
        return pd.Series(out, dtype="float64")

    return df.select(
        F.col(id_col),
        F.length(F.col(text_col).cast("binary")).alias("n_bytes"),
        F.round(_ratio(F.col(text_col)), 6).alias("ratio"),
    ).withColumn(
        "keep",
        F.when(F.col("ratio").isNull(), F.lit(False)).otherwise(
            F.col("ratio") > F.lit(float(max_ratio))
        ),
    )


def length_quantiles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    percentages: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95, 0.99),
) -> DataFrame:
    """Per-group EXACT token-length quantiles — the distribution
    monitoring a pipeline runs per source/shard before and after every
    filter stage (a collapsed p99 after a dedup pass means the pass ate
    the long tail, not just duplicates).

    Exact ``percentile`` rather than ``approx_percentile`` because the
    value domain is BOUNDED: token counts are small integers, so the
    aggregate's internal value→count map holds at most |distinct
    lengths| entries per group regardless of corpus size — it partial-
    aggregates map-side and merges like any combinable agg.  For an
    UNBOUNDED domain (e.g. float scores) the same call site would flip
    to ``approx_percentile``; the exact form here keeps the DuckDB
    oracle bit-comparable (both engines interpolate linearly at
    ``p*(n-1)``).

    Returns one row per group: (group, n_docs, mean_tokens, then one
    ``p<pct>`` column per requested percentage, rounded to 6).
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(n_tok), 6).alias("mean_tokens"),
    ]
    for p in percentages:
        label = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        aggs.append(F.round(F.percentile(n_tok, F.lit(p)), 6).alias(label))
    return df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)


def top_ngrams(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    k: int = 50,
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams with counts — the LM
    analysis staple (boilerplate discovery, stop-phrase lists, tokenizer
    corpus profiling).  Fully deterministic: ties break on the gram
    string ascending.

    Scale shape: one explode (+n−1 rows per token, row-local), a
    partial-aggregating groupBy on the gram, and a global top-k that
    Catalyst plans as ``TakeOrderedAndProject`` — each partition keeps
    only its local top-k, the driver merges k·partitions rows, never
    the full gram distribution.
    """
    toks = tokens_col(text_col)
    grams = df.select(
        F.explode(word_ngrams_col(toks, n)).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("ngram").asc()
    ).limit(k)


def heavy_hitters(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    k: int = 50,
    capacity: int = 4096,
) -> DataFrame:
    """Exact corpus top-``k`` word ``n``-grams WITHOUT a full
    gram-cardinality shuffle — the scale path behind :func:`top_ngrams`
    (identical result contract, same oracle).  The n-gram instantiation
    of :func:`..sketches.frequent_items`: grams are exploded row-locally
    (never shuffled), then the generic Misra-Gries sketch -> exact
    candidate recount -> certificate machinery runs over the gram
    column; see that docstring for the MG bound, the left-semi recount
    join that can never broadcast the gram stream, and the
    lossless/trimming regime split
    (SCALE.md r12's heavy_hitters probe measures both on this operator).

    100 TB shape: ``top_ngrams``'s groupBy shuffles the full distinct-
    gram space (map-side combine helps the heavy head, not the huge
    unique tail — at corpus scale the tail IS the shuffle); here the
    gram stream is scanned twice but never shuffled — what moves is
    capacity x partitions candidate rows + a k-row certificate collect.
    Pick ``capacity`` >> k so the certificate holds for Zipfian corpora
    (the k-th 3-gram needs > N/(capacity+1) of all gram occurrences);
    a failed certificate falls back to the exact groupBy, so the output
    is ALWAYS the exact deterministic top-k (ties on the gram string
    ascending) regardless of partitioning.
    """
    from .sketches import frequent_items

    toks = tokens_col(text_col)
    grams = df.select(F.explode(word_ngrams_col(toks, n)).alias("ngram"))
    return frequent_items(grams, "ngram", k=k, capacity=capacity)
