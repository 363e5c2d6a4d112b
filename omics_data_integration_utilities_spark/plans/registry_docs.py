"""Query registry part 2 — document/embedding pipeline operators
(dedup, similarity search, text analysis; BASELINE.json north star).

Oracle SQL here is *generated* from the same constants the Spark operators
use (``operators/constants.py``), so the two engines share hash seeds,
stopword lists and band layouts by construction.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import containment as cont_ops
from ..operators import dedup as dedup_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops
from ..operators.constants import (
    EN_STOPWORDS,
    MAX_POSTING,
    MINHASH_BANDS,
    MINHASH_P,
    MINHASH_PERMS,
    MINHASH_ROWS_PER_BAND,
    SHINGLE_WIDTH,
    SIMHASH_BITS,
)
from .registry import _spread_scan, _t


# ---- shared DuckDB fragments (kept in lockstep with the Spark operators) --

_HEX60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# shingle concat generated from SHINGLE_WIDTH so changing the constant
# cannot silently desynchronize the oracle from the Spark operators
_SHINGLE_CONCAT = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(SHINGLE_WIDTH))

_SHINGLE_CTES = f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([{_SHINGLE_CONCAT}
                        for i in generate_series(1, len(t) - {SHINGLE_WIDTH - 1})]) AS s
  FROM tok
),
hs AS (
  SELECT doc_id,
         list_transform(s, x -> {_HEX60.format(x='x')} % {MINHASH_P}) AS h
  FROM sh
)
"""

def _mh_expr(a: int, b: int) -> str:
    return f"list_aggregate(list_transform(h, x -> ({a} * x + {b}) % {MINHASH_P}), 'min')"


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a 60-bit content hash, min-id keeper."""
    return dedup_ops.exact_dedup(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


# groups on the full digest (collision-proof), displays the 60-bit key —
# in lockstep with operators/dedup.exact_dedup
SQL_DEDUP_EXACT = """
SELECT ('0x' || substr(digest, 1, 15))::BIGINT AS content_hash, keep_id, n_copies
FROM (
  SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
  FROM documents GROUP BY digest
)
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive token-set fingerprint (catches shuffled dups)."""
    return text_ops.doc_fingerprint(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


SQL_DEDUP_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents
"""


# --------------------------------------------------------------------------
# minhash + LSH
# --------------------------------------------------------------------------

def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, long form (doc_id, perm, minhash) — computed
    with zero-shuffle array expressions in Spark."""
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    out = dedup_ops.minhash_signatures(docs, "text", "doc_id")
    return out.select("doc_id", F.col("perm").cast("long").alias("perm"), "minhash")


SQL_MINHASH_SIGNATURES = (
    "WITH " + _SHINGLE_CTES + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT doc_id, {i}::BIGINT AS perm, {_mh_expr(a, b)} AS minhash FROM hs"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
)


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any of 4 banded signature slices."""
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return dedup_ops.lsh_candidate_pairs(docs, "text", "doc_id")


def _lsh_sql() -> str:
    m_cols = ", ".join(f"{_mh_expr(a, b)} AS m{i}" for i, (a, b) in enumerate(MINHASH_PERMS))
    r = MINHASH_ROWS_PER_BAND
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bkey FROM sig".format(
            b=b, cols=", ".join(f"m{b * r + i}" for i in range(r))
        )
        for b in range(MINHASH_BANDS)
    )
    return (
        "WITH " + _SHINGLE_CTES
        + f", sig AS (SELECT doc_id, {m_cols} FROM hs)"
        + f", bands AS ({band_selects})\n"
        # ok mirrors the Spark posting-list cap: buckets larger than
        # MAX_POSTING are dropped on both engines
        + ", ok AS (SELECT band, bkey FROM bands GROUP BY band, bkey "
        + f"HAVING count(*) BETWEEN 2 AND {MAX_POSTING})\n"
        + "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        + "FROM ok o JOIN bands a ON a.band = o.band AND a.bkey = o.bkey\n"
        + "          JOIN bands b ON b.band = o.band AND b.bkey = o.bkey AND a.doc_id < b.doc_id"
    )


SQL_LSH_CANDIDATE_PAIRS = _lsh_sql()


# --------------------------------------------------------------------------
# incremental dedup (snapshot ingest vs reference corpus)
# --------------------------------------------------------------------------

_INCR_SALT = "incr-v1"
_INCR_REF_CUT = 700_000  # 70% ref corpus / 30% new batch


def _incr_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic md5 70/30 (reference corpus, tonight's batch)
    split every incremental-dedup query family member uses."""
    from ..operators.sampling import _hash_bucket

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    tagged = docs.withColumn("__b", _hash_bucket(F.col("doc_id"), _INCR_SALT))
    ref = tagged.where(F.col("__b") < _INCR_REF_CUT).drop("__b")
    new = tagged.where(F.col("__b") >= _INCR_REF_CUT).drop("__b")
    return ref, new


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-reference dedup verdicts: a deterministic md5 70/30
    split of ``documents`` plays reference corpus vs tonight's batch;
    every batch doc gets (verdict, keep) — exact_ref / near_ref /
    exact_batch / near_batch / novel."""
    ref, new = _incr_split(spark, sf_dir)
    return dedup_ops.incremental_dedup_verdicts(new, ref, "text", "doc_id")


def _minhash_band_ctes(src: str, p: str) -> str:
    """The shingle→minhash→band chain as prefixed CTEs over ``src`` —
    generated from the same constants as :data:`_SHINGLE_CTES` and
    :func:`_lsh_sql` so a constant change cannot desynchronize them."""
    m_cols = ", ".join(f"{_mh_expr(a, b)} AS m{i}" for i, (a, b) in enumerate(MINHASH_PERMS))
    r = MINHASH_ROWS_PER_BAND
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bkey FROM {p}sig".format(
            b=b, cols=", ".join(f"m{b * r + i}" for i in range(r)), p=p
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
{p}tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
{p}sh AS (
  SELECT doc_id,
         list_distinct([{_SHINGLE_CONCAT}
                        for i in generate_series(1, len(t) - {SHINGLE_WIDTH - 1})]) AS s
  FROM {p}tok
),
{p}hs AS (
  SELECT doc_id,
         list_transform(s, x -> {_HEX60.format(x='x')} % {MINHASH_P}) AS h
  FROM {p}sh
),
{p}sig AS (SELECT doc_id, {m_cols} FROM {p}hs WHERE len(h) > 0),
{p}bands AS ({band_selects})
"""


def _incremental_sql() -> str:
    bucket = (
        f"('0x' || substr(md5('{_INCR_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        " % 1000000"
    )
    return (
        f"""
WITH base AS (SELECT doc_id, text, {bucket} AS b FROM documents),
ref AS (SELECT doc_id, text FROM base WHERE b < {_INCR_REF_CUT}),
batch AS (SELECT doc_id, text FROM base WHERE b >= {_INCR_REF_CUT}),
"""
        + _minhash_band_ctes("ref", "r")
        + ","
        + _minhash_band_ctes("batch", "n")
        + f""",
rb_ok AS (SELECT band, bkey FROM rbands GROUP BY band, bkey HAVING count(*) <= {MAX_POSTING}),
xr AS (SELECT DISTINCT b.doc_id FROM batch b
       WHERE md5(b.text) IN (SELECT md5(text) FROM ref)),
nr AS (SELECT DISTINCT a.doc_id FROM nbands a
       JOIN rb_ok o ON a.band = o.band AND a.bkey = o.bkey),
bk AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text)),
nok AS (SELECT band, bkey FROM nbands GROUP BY band, bkey
        HAVING count(*) BETWEEN 2 AND {MAX_POSTING}),
nb AS (SELECT DISTINCT b2.doc_id FROM nok o
       JOIN nbands b1 ON b1.band = o.band AND b1.bkey = o.bkey
       JOIN nbands b2 ON b2.band = o.band AND b2.bkey = o.bkey
                     AND b1.doc_id < b2.doc_id),
verdicts AS (
  SELECT t.doc_id,
         CASE WHEN t.doc_id IN (SELECT doc_id FROM xr) THEN 'exact_ref'
              WHEN t.doc_id IN (SELECT doc_id FROM nr) THEN 'near_ref'
              WHEN t.doc_id NOT IN (SELECT doc_id FROM bk) THEN 'exact_batch'
              WHEN t.doc_id IN (SELECT doc_id FROM nb) THEN 'near_batch'
              ELSE 'novel' END AS verdict
  FROM batch t
)
SELECT doc_id, verdict, verdict = 'novel' AS keep FROM verdicts
"""
    )


SQL_DEDUP_INCREMENTAL = _incremental_sql()


_INCR_IDX_SEQ = itertools.count()
# previous invocation's (table names, data dir), for cleanup on next entry
_INCR_IDX_LAST: list[tuple[list[str], str]] = []


def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_dedup_incremental` probing a PERSISTED dedup index
    instead of re-scanning the reference corpus — the end-to-end driver
    check of the index semantics (build two bucketed external tables,
    then :func:`incremental_dedup_verdicts_indexed`): same 70/30 split,
    same five-verdict output, same oracle as ``dedup_incremental``.

    The index lands in a fresh temp dir with a per-invocation table
    name (pid + counter): every call — driver correctness pass, bench
    rep — builds its OWN generation, so repeated invocations never
    trip the ownership guard (a fixed name with a rotating temp path
    would: the guard refuses to drop a table registered at a different
    location, by design) and never read a stale catalog entry.  The
    PREVIOUS invocation's catalog entries AND data files are removed on
    entry so repeated bench/driver reps within one session accumulate
    at most one live generation; a caller holding the previous
    invocation's un-collected DataFrame across a new call would lose it
    — registry calls never do (each driver/bench rep collects before
    the next begins)."""
    import shutil
    import tempfile

    while _INCR_IDX_LAST:
        prev_tables, prev_path = _INCR_IDX_LAST.pop()
        for t in prev_tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(prev_path, ignore_errors=True)
    ref, new = _incr_split(spark, sf_dir)
    name = f"incr_idx_{os.getpid()}_{next(_INCR_IDX_SEQ)}"
    path = tempfile.mkdtemp(prefix="dedup_incr_idx_")
    # n_buckets sized to the test corpus per build_dedup_index's own
    # guidance (measured: 64 buckets 9.8 s/rep vs 8 buckets 9.4 s/rep at
    # sf0.1 — the per-rep wall is the two saveAsTable jobs + probe, a
    # FIXED build cost the nightly-ingest deployment pays once per index
    # generation, not per probe; the bench times the worst case of
    # rebuilding per invocation on purpose).  The verdicts are
    # bucket-count-independent; at 100 TB the caller sizes for
    # O(100 MB-1 GB) buckets instead.
    idx = dedup_ops.build_dedup_index(ref, "text", "doc_id", name, path, n_buckets=8)
    _INCR_IDX_LAST.append(([idx.digests_table, idx.bands_table], path))
    return dedup_ops.incremental_dedup_verdicts_indexed(new, idx, "text", "doc_id")


# per-(pid, sf_dir) memoized index for the BENCH-ONLY probe query below —
# built once (the bench's untimed warm-up rep), probed by every timed rep
_PROBE_IDX: dict[str, object] = {}


def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY (deliberately NOT in QUERIES_DOCS — r11 verdict item
    6): the steady-state O(batch) PROBE against a prebuilt persisted
    index.  ``q_dedup_incremental_indexed`` stays the driver query
    (build+probe end-to-end is what the oracle should hash-check), but
    its 7s/rep bench number is ~all index BUILD — the operational claim
    worth tracking round-over-round is the probe a nightly-ingest
    deployment actually repeats, which this entry times in isolation:
    the first (untimed warm-up) invocation builds and memoizes the two
    bucketed external tables; every later invocation only probes.
    Result-identical to ``dedup_incremental`` / ``_indexed`` (asserted
    by tests/test_dedup.py::test_index_probe_matches_scan_form)."""
    import tempfile

    key = f"{os.getpid()}:{sf_dir}"
    if key not in _PROBE_IDX:
        ref, _ = _incr_split(spark, sf_dir)
        name = f"incr_probe_{os.getpid()}_{next(_INCR_IDX_SEQ)}"
        path = tempfile.mkdtemp(prefix="dedup_probe_idx_")
        _PROBE_IDX[key] = dedup_ops.build_dedup_index(
            ref, "text", "doc_id", name, path, n_buckets=8
        )
    _, new = _incr_split(spark, sf_dir)
    return dedup_ops.incremental_dedup_verdicts_indexed(
        new, _PROBE_IDX[key], "text", "doc_id"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join."""
    return dedup_ops.ngram_jaccard_pairs(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", min_jaccard=0.2
    )


SQL_NGRAM_JACCARD = (
    "WITH " + _SHINGLE_CTES + f"""
, e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
-- sizes and intersections share one filtered feature space (exact-under-cap)
keep AS (SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= {MAX_POSTING}),
ke AS (SELECT e.doc_id, e.shingle FROM e JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ke GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ke a JOIN ke b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
         round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
) WHERE jaccard >= 0.2
"""
)


_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both token-count flavors (whitespace + BPE-ish pre-tokenizer regex)
    — the budget-accounting pair; patterns live in the Java∩RE2 subset so
    the oracle runs the identical regex."""
    from ..operators.text import token_counts

    return token_counts(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


SQL_TEXT_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s'))
         AS n_bpe_tokens
FROM documents
"""


def _pii_scrub_sql_ctes(src: str) -> str:
    """CTE chain mirroring ``operators.text.scrub_pii`` over relation
    ``src`` (columns: doc_id, text) — GENERATED from ``PII_PATTERNS`` so
    the engine and every oracle can never drift.  Emits ``s1..s{n-1}``
    plus a final ``scrub`` CTE with (doc_id, scrubbed, n_redactions);
    counts run against the progressively-scrubbed text, exactly the
    Spark chaining (a digit run inside an already-replaced <EMAIL> is
    not double-counted).  Patterns are Java∩RE2 and quote-free, so the
    same strings are valid DuckDB single-quoted literals verbatim."""
    from ..operators.text import PII_PATTERNS

    pats = [(p, r) for _, p, r in PII_PATTERNS]
    n = len(pats)
    parts = []
    carry = "text AS t0"
    prev_rel, prev_col = src, "text"
    for i, (pat, repl) in enumerate(pats[:-1], start=1):
        parts.append(
            f"s{i} AS (\n"
            f"  SELECT doc_id, {carry},\n"
            f"         regexp_replace({prev_col}, '{pat}', '{repl}', 'g') AS t{i}\n"
            f"  FROM {prev_rel}\n)"
        )
        carry = ", ".join([f"t{j}" for j in range(i + 1)])
        prev_rel, prev_col = f"s{i}", f"t{i}"
    counts = "\n     + ".join(
        f"len(regexp_extract_all(t{i}, '{pat}'))" for i, (pat, _) in enumerate(pats)
    )
    last_pat, last_repl = pats[-1]
    parts.append(
        "scrub AS (\n"
        "  SELECT doc_id,\n"
        f"    regexp_replace(t{n - 1}, '{last_pat}', '{last_repl}', 'g') AS scrubbed,\n"
        f"    ({counts})::BIGINT AS n_redactions\n"
        f"  FROM s{n - 1}\n)"
    )
    return ", ".join(parts)


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over docs with planted deterministic PII (email,
    IP, SSN-shaped id, and card-shaped number derived from doc_id, so
    every row exercises every pattern); typed placeholders + redaction
    count."""
    from ..operators.text import scrub_pii

    docs = _spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" ssn "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-45-6789 card 4242-4242-4242-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return scrub_pii(docs, "text", "doc_id")


SQL_TEXT_PII_SCRUB = (
    """
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
              || ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-45-6789 card 4242-4242-4242-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
), """
    + _pii_scrub_sql_ctes("d")
    + "\nSELECT doc_id, scrubbed, n_redactions FROM scrub\n"
)


def q_text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule battery (Rae et al. 2021 §A1.1) — five
    boolean rules + keep verdict, one projection."""
    from ..operators.text import gopher_quality_rules

    return gopher_quality_rules(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


SQL_TEXT_GOPHER = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         (length(text) - (len(toks) - 1)) / len(toks) AS mtl,
         (length(text) - length(replace(text, '#', ''))) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ell,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
         len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, lower(x)))) AS stop_hits
  FROM t
)
SELECT doc_id, n_tokens,
       round(mtl, 6) AS mean_token_len,
       round((n_hash + n_ell) / n_tokens, 6) AS symbol_ratio,
       round(CAST(alpha_words AS DOUBLE) / n_tokens, 6) AS alpha_word_frac,
       stop_hits AS stopword_hits,
       (n_tokens >= 5 AND n_tokens <= 100000) AS ok_n_tokens,
       (mtl >= 2.0 AND mtl <= 12.0) AS ok_token_len,
       ((n_hash + n_ell) / n_tokens <= 0.1) AS ok_symbols,
       (CAST(alpha_words AS DOUBLE) / n_tokens >= 0.6) AS ok_alpha,
       (stop_hits >= 1) AS ok_stopwords,
       ((n_tokens >= 5 AND n_tokens <= 100000)
        AND (mtl >= 2.0 AND mtl <= 12.0)
        AND ((n_hash + n_ell) / n_tokens <= 0.1)
        AND (CAST(alpha_words AS DOUBLE) / n_tokens >= 0.6)
        AND (stop_hits >= 1)) AS keep
FROM f
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution over the n-gram-Jaccard near-dup graph: min-label
    connected components + canonical-doc flag — the production step that
    turns pair lists into keep/drop decisions.  Oracle = recursive CTE
    reachability with min label over the identical pair construction."""
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    pairs = dedup_ops.ngram_jaccard_pairs(docs, "text", "doc_id", min_jaccard=0.2)
    return dedup_ops.connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id_a"))
    )


# the Jaccard-graph component CTE chain, shared by SQL_DEDUP_COMPONENTS
# and SQL_DEDUP_KEEP_BEST so the two oracles can never drift on the
# pair/reachability construction
_COMPONENTS_CTES = (
    _SHINGLE_CTES + f"""
, e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
keep AS (SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= {MAX_POSTING}),
ke AS (SELECT e.doc_id, e.shingle FROM e JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ke GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ke a JOIN ke b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  ) WHERE jaccard >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)"""
)

SQL_DEDUP_COMPONENTS = (
    "WITH RECURSIVE " + _COMPONENTS_CTES + """
SELECT node AS id, min(label) AS component,
       node = min(label) AS is_canonical
FROM reach GROUP BY node
"""
)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization: components over the Jaccard
    near-dup graph, then keep the highest-quality member per component
    (ties to lowest id) — the full pair→cluster→representative chain."""
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    pairs = dedup_ops.ngram_jaccard_pairs(docs, "text", "doc_id", min_jaccard=0.2)
    comps = dedup_ops.connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id_a"))
    )
    qual = text_ops.quality_score(docs, "text", "doc_id")
    return dedup_ops.keep_best_per_component(comps, qual)


SQL_DEDUP_KEEP_BEST = (
    "WITH RECURSIVE " + _COMPONENTS_CTES + """,
comp AS (SELECT node AS id, min(label) AS component FROM reach GROUP BY node),
qual AS (
  SELECT doc_id,
         round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
               + (len(list_distinct(string_split(text, ' ')))
                  / len(string_split(text, ' '))) * 0.4
               + least(((length(text) - (len(string_split(text, ' ')) - 1))
                        / len(string_split(text, ' '))) / 10.0, 1.0) * 0.2,
               6) AS quality
  FROM documents
),
j AS (SELECT c.id, c.component, q.quality FROM comp c JOIN qual q ON q.doc_id = c.id)
SELECT id, component, quality,
       rank() OVER (PARTITION BY component ORDER BY quality DESC, id ASC) = 1 AS keep
FROM j
"""
)


def q_doc_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: documents cluster into
    Jaccard components FIRST and the split hashes the COMPONENT label,
    so a test doc's 0.95-Jaccard twin can never land in train — the
    leakage mode a raw id-hash split silently permits.  Oracle = the
    shared component CTE chain + the same md5 bucket arithmetic on the
    component label (split is a pure function of (salt, component), so
    both engines derive it independently and must agree bit-for-bit)."""
    from ..operators.sampling import leakage_safe_split

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return leakage_safe_split(docs, "text", "doc_id", min_jaccard=0.2)


SQL_DOC_SPLIT_LEAKAGE_SAFE = (
    "WITH RECURSIVE " + _COMPONENTS_CTES + """,
comp AS (SELECT node AS id, min(label) AS component FROM reach GROUP BY node),
b AS (
  SELECT id, component,
         ('0x' || substr(md5('split-v1' || CAST(component AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS bucket
  FROM comp
)
SELECT id, component,
       CASE WHEN bucket < 900000 THEN 'train'
            WHEN bucket < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""
)


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split + stratified downsample
    of the train split (keep 50% of lang 'en' docs by hash) — the
    reproducible-split staple; pure md5 arithmetic, fully oracled."""
    from ..operators.sampling import hash_split, stratified_hash_sample

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    split = hash_split(docs.select("doc_id"), "doc_id")
    counts = split.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    sampled = stratified_hash_sample(
        split.where(F.col("split") == "train").withColumn(
            "stratum", (F.col("doc_id") % 2).cast("string")
        ),
        "doc_id",
        "stratum",
        fractions={"0": 0.5, "1": 0.25},
    )
    kept = sampled.groupBy(F.lit("train_sampled").alias("split")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.unionByName(kept)


def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stage-survival funnel (min-chars -> min-tokens ->
    english) over the documents table in ONE conditional-aggregation
    scan — the curation-monitoring staple ("which rule cost how many
    docs") that naively runs one count job per stage."""
    from ..operators.aggregates import funnel_counts

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return funnel_counts(
        docs,
        [
            ("min_chars", F.col("n_chars") >= 50),
            ("min_tokens", F.size(F.split(F.col("text"), " ")) >= 10),
            ("english", F.col("lang") == "en"),
        ],
        group_cols=["source"],
    )


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest curation report (streaming/pipeline.curate_doc_batch_counts:
    gate on the SAME quality_expr → exact-dedup counts): per-source
    (n_in, n_gated, n_kept_hashes) plus the __all__ row whose kept count
    is the global distinct-content cardinality, so the driver hash-checks
    the curation algebra end-to-end (r11 verdict item 7)."""
    from ..streaming.pipeline import curate_doc_batch_counts

    return curate_doc_batch_counts(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", min_quality=0.5
    )


SQL_PIPELINE_CURATE = """
WITH f AS (
  SELECT source, md5(text) AS h,
         length(text)::BIGINT AS n_chars,
         len(string_split(text, ' '))::BIGINT AS n_tok,
         len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct
  FROM documents
), q AS (
  SELECT source, h,
         round(least(n_tok / 100.0, 1.0) * 0.4 + (n_distinct / n_tok) * 0.4
               + least(((n_chars - (n_tok - 1)) / n_tok) / 10.0, 1.0) * 0.2, 6)
           >= 0.5 AS kept
  FROM f
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_in,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
       CAST(count(DISTINCT CASE WHEN kept THEN h END) AS BIGINT) AS n_kept_hashes
FROM q GROUP BY source
UNION ALL
SELECT '__all__',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN kept THEN h END) AS BIGINT)
FROM q
"""


# DuckDB sum(CASE..) returns HUGEINT — CAST every count to BIGINT (the
# r9 doc_pack_chunks fetched-dtype lesson)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tumbling-window stage-survival funnel over the events feed
    (streaming/funnel.windowed_funnel_batch); registered so the driver
    hash-checks the windowed funnel algebra."""
    from ..streaming.funnel import windowed_funnel_batch

    events = _spread_scan(_t(spark, sf_dir, "events"))
    return windowed_funnel_batch(
        events,
        [
            ("nonzero", F.col("value") > 0.1),
            ("mid", F.col("value") > 5.0),
            ("clicky", F.col("event_type").isin("click", "view")),
        ],
        window_seconds=3600,
    )


SQL_EVENTS_FUNNEL = """
WITH agg AS (
  SELECT epoch_us(ts) // 3600000000 AS bucket,
         CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN value > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN value > 0.1 AND value > 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN value > 0.1 AND value > 5.0
                        AND event_type IN ('click', 'view') THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM events GROUP BY 1
)
SELECT bucket, 'nonzero' AS stage, CAST(0 AS BIGINT) AS stage_idx,
       n0 AS n_in, n1 AS n_surviving, n0 - n1 AS n_dropped FROM agg
UNION ALL
SELECT bucket, 'mid', CAST(1 AS BIGINT), n1, n2, n1 - n2 FROM agg
UNION ALL
SELECT bucket, 'clicky', CAST(2 AS BIGINT), n2, n3, n2 - n3 FROM agg
"""


SQL_PIPELINE_FUNNEL = """
WITH base AS (
  SELECT source, n_chars, len(string_split(text, ' ')) AS toks, lang
  FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN n_chars >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN n_chars >= 50 AND toks >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN n_chars >= 50 AND toks >= 10 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM base GROUP BY source
)
SELECT source, 'min_chars' AS stage, CAST(0 AS BIGINT) AS stage_idx,
       n0 AS n_in, n1 AS n_surviving, n0 - n1 AS n_dropped FROM agg
UNION ALL
SELECT source, 'min_tokens', CAST(1 AS BIGINT), n1, n2, n1 - n2 FROM agg
UNION ALL
SELECT source, 'english', CAST(2 AS BIGINT), n2, n3, n2 - n3 FROM agg
"""


# data-mixing weights for mix_domains: uneven on purpose, with src1's
# apportioned quota (32 of 60) EXCEEDING its sf0.01 row count (25) so the
# availability cap binds in the driver compare
MIX_WEIGHTS = {"src1": 8.0, "src3": 4.0, "src7": 2.0, "src12": 1.0}
MIX_TOTAL = 60


def q_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling (the data-mixing stage):
    compose a 60-doc corpus from 4 weighted sources via largest-remainder
    quotas + md5-priority selection; a domain short of its quota
    contributes everything it has (no redistribution).  Pure window
    algebra + a broadcast quota map — exact SQL oracle."""
    from ..operators.sampling import mixture_sample

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return mixture_sample(docs, "doc_id", "source", MIX_WEIGHTS, MIX_TOTAL)


def _mix_sql() -> str:
    from ..operators.sampling import mixture_quotas

    quotas = mixture_quotas(MIX_WEIGHTS, MIX_TOTAL)
    values = ", ".join(f"('{d}', {q})" for d, q in sorted(quotas.items()))
    return f"""
WITH quotas(source, quota) AS (VALUES {values}),
cnts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
lim AS (SELECT q.source, least(q.quota, c.cnt) AS take
        FROM quotas q JOIN cnts c USING (source)),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('mix-v1' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT r.doc_id, r.source FROM ranked r JOIN lim l USING (source)
WHERE r.rn <= l.take
"""


SQL_MIX_DOMAINS = _mix_sql()


def q_doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pack-and-chunk): documents hash into 4 shard
    streams, each stream's token run is cut into budget-1024 chunks —
    the step between curation and tokenized training shards.  Pure
    window algebra over (shard, doc_id) order; the cumulative-SUM SQL
    oracle reproduces offsets exactly."""
    from ..operators.sampling import pack_and_chunk

    docs = _spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id", text_ops.token_count_col("text").alias("n_tokens")
    )
    return pack_and_chunk(docs, "doc_id", "n_tokens", budget=1024, n_shards=4)


SQL_DOC_PACK_CHUNKS = """
WITH d AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS token_count,
         ('0x' || substr(md5('pack-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 % 4 AS shard
  FROM documents
), c AS (
  SELECT doc_id, token_count, shard,
         sum(token_count) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, token_count, shard,
       -- DuckDB sum(BIGINT) returns HUGEINT (arrow decimal128(38,0)); a
       -- pandas/arrow fetch turns that into float64 while Spark's window
       -- sum stays int64, so a type-sensitive value-hash mismatches on
       -- identical numbers (the r7/r8 doc_pack_chunks red).  CAST every
       -- integer-sum-derived output back to BIGINT.
       CAST(cum - token_count AS BIGINT) AS tok_offset,
       CAST(floor((cum - token_count) / 1024.0) AS BIGINT) AS chunk_first,
       greatest(CAST(floor((cum - 1) / 1024.0) AS BIGINT),
                CAST(floor((cum - token_count) / 1024.0) AS BIGINT)) AS chunk_last
FROM c
"""


def q_doc_pack_chunks_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, chunk_first) digest of the pack-and-chunk output —
    count + sum(tok_offset) + sum(token_count); any single-row change in
    the packing moves a group.  Registered alongside the row-level form
    after the r7/r8 driver reds so the digest family (100% driver-green
    across 8 rounds) carries independent evidence for the same operator."""
    from ..operators.sampling import pack_and_chunk

    docs = _spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id", text_ops.token_count_col("text").alias("n_tokens")
    )
    packed = pack_and_chunk(docs, "doc_id", "n_tokens", budget=1024, n_shards=4)
    return packed.groupBy("shard", "chunk_first").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_offset").alias("sum_offset"),
        F.sum("token_count").alias("sum_tokens"),
    )


SQL_DOC_PACK_CHUNKS_DIGEST = f"""
WITH base AS ({SQL_DOC_PACK_CHUNKS.strip()})
SELECT shard, chunk_first,
       count(*) AS n_docs,
       CAST(sum(tok_offset) AS BIGINT) AS sum_offset,
       CAST(sum(token_count) AS BIGINT) AS sum_tokens
FROM base
GROUP BY shard, chunk_first
"""


def q_probe_double_pmod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-probe (r9 bisect, VERDICT r8 item 1): isolates the
    double-mod ``md5-bucket % 1e6 % 4`` shard arithmetic of
    ``doc_pack_chunks`` with NO window — f5_id_generation already proves
    the single-mod md5 family, so green here + red doc_pack_chunks would
    localize any residual driver divergence to the window construct."""
    from ..operators.sampling import _hash_bucket

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.pmod(_hash_bucket(F.col("doc_id"), "pack-v1"), F.lit(4))
        .cast("long")
        .alias("shard"),
    )


SQL_PROBE_DOUBLE_PMOD = """
SELECT doc_id,
       ('0x' || substr(md5('pack-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         % 1000000 % 4 AS shard
FROM documents
"""


def q_probe_cum_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-probe (r9 bisect): isolates the cumulative-SUM window frame
    (``ROWS UNBOUNDED PRECEDING``) + integer ``div`` of
    ``doc_pack_chunks`` with NO hash sharding — one global stream
    ordered by doc_id, so the only constructs under test are the frame
    and the truncating division."""
    from pyspark.sql import Window

    docs = _spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id", text_ops.token_count_col("text").alias("token_count")
    )
    w = (
        Window.orderBy(F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.withColumn(
        "cum_tokens", F.sum(F.col("token_count").cast("long")).over(w)
    ).withColumn("cum_chunk", F.expr("cum_tokens div 1024"))


SQL_PROBE_CUM_FRAME = """
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS token_count,
       CAST(sum(len(string_split(text, ' '))::BIGINT)
              OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(sum(len(string_split(text, ' '))::BIGINT)
              OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) // 1024
         AS cum_chunk
FROM documents
"""


SQL_DOC_SPLIT = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS bucket
  FROM documents
), split AS (
  SELECT doc_id,
         CASE WHEN bucket < 900000 THEN 'train'
              WHEN bucket < 950000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
), counts AS (
  SELECT split, count(*) AS n FROM split GROUP BY split
), samp AS (
  SELECT s.doc_id,
         ('0x' || substr(md5('sample-v1' || CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS sb,
         CAST(s.doc_id % 2 AS VARCHAR) AS stratum
  FROM split s WHERE s.split = 'train'
), kept AS (
  SELECT 'train_sampled' AS split, count(*) AS n
  FROM samp
  WHERE (stratum = '0' AND sb < 500000) OR (stratum = '1' AND sb < 250000)
)
SELECT split, n FROM counts UNION ALL SELECT split, n FROM kept
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (Charikar majority-vote)."""
    return dedup_ops.simhash_table(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


def _simhash_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> (x >> {b}) & 1 = 1)) > len(h) "
        f"THEN {2**b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
th AS (SELECT doc_id, list_transform(t, x -> {_HEX60.format(x='x')}) AS h FROM tok)
SELECT doc_id, ({terms}) AS simhash FROM th
"""


SQL_SIMHASH = _simhash_sql()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band-bucketed candidates (pigeonhole-
    complete for hamming <= 3 with 4 bands) + exact bit_count(xor)
    verification."""
    return dedup_ops.simhash_pairs(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", max_hamming=3
    )


def _simhash_pairs_sql(max_hamming: int = 3, n_bands: int = 4) -> str:
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> (x >> {b}) & 1 = 1)) > len(h) "
        f"THEN {2**b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * band_bits}) & {mask} AS bkey FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
th AS (SELECT doc_id, list_transform(t, x -> {_HEX60.format(x='x')}) AS h FROM tok),
sig AS (SELECT doc_id, ({terms}) AS simhash FROM th),
bands AS ({band_selects}),
ok AS (SELECT band, bkey FROM bands GROUP BY band, bkey
       HAVING count(*) BETWEEN 2 AND {MAX_POSTING}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ok o JOIN bands a ON a.band = o.band AND a.bkey = o.bkey
            JOIN bands b ON b.band = o.band AND b.bkey = o.bkey
                        AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa.simhash, sb.simhash))::BIGINT AS hamming
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
"""


SQL_SIMHASH_PAIRS = _simhash_pairs_sql()


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id % 50 == 0)."""
    emb = _spread_scan(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") % 50 == 0)
    out = sim_ops.brute_force_topk_np(emb, queries, "embedding", "vec_id", k=5)
    return out.select("query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank"))


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in exact mode (n_probes == n_lists degenerates to brute
    force) — hash-checks the whole IVF machinery (bounded centroid
    training, list assignment, probe join, window top-k) against the
    same brute-force oracle; the approximate mode's recall is asserted
    in tests/test_similarity.py."""
    emb = _spread_scan(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") % 50 == 0)
    out = sim_ops.ivf_topk(
        emb, queries, "embedding", "vec_id", k=5, n_lists=16, n_probes=16
    )
    return out.select(
        "query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank")
    )


SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
qe AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v, generate_subscripts(embedding, 1) AS i FROM q),
ce AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v, generate_subscripts(embedding, 1) AS i FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ce GROUP BY vec_id),
dots AS (
  SELECT qe.vec_id AS query_id, ce.vec_id AS cand_id, sum(qe.v * ce.v) AS dot
  FROM qe JOIN ce ON qe.i = ce.i
  WHERE qe.vec_id != ce.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS score
  FROM dots JOIN norms nq ON nq.vec_id = query_id JOIN norms nc ON nc.vec_id = cand_id
)
SELECT query_id, cand_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-dup — GEMM-backed (broadcast matrix +
    mapInPandas BLAS blocks); LSH variant in library for two-large-sides."""
    return sim_ops.cosine_neardup_np(
        _spread_scan(_t(spark, sf_dir, "embeddings")), "embedding", "vec_id", min_cosine=0.35
    )


def q_sim_semantic_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup, exact operating point
    (single list — the greedy keep/drop decisions are then independent of
    the IVF quantizer, the same exact-mode pattern ``sim_ivf_topk``
    hash-checks; the bucketed path is recall-tested in
    tests/test_similarity.py).  The greedy is order-sequential (keep the
    lowest-id member of every cosine>=t group), so no ANSI-SQL oracle
    exists; the per-verdict digest below is golden-pinned at sf0.01 and
    re-derived by an independent no-Spark replica — any single keep-flip
    moves ``id_sum``."""
    out = sim_ops.semantic_dedup(
        _spread_scan(_t(spark, sf_dir, "embeddings")), "embedding", "vec_id",
        threshold=0.35, n_lists=1,
    )
    return (
        out.groupBy("keep")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vec_id").alias("id_sum"),
            F.round(F.sum(F.coalesce("max_sim_to_kept", F.lit(0.0))), 3).alias("sim_sum"),
        )
        .orderBy("keep")
    )


def q_text_compression_ratio_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-compression-ratio quality signal (RefinedWeb-family
    heuristic) digested per keep verdict: any single ratio change or
    keep flip moves its group's sums.  zlib has no SQL form, so the
    sf0.01 digest is golden-pinned (plans/golden_oracles.py) with a
    no-Spark replica recomputing the ratios from parquet."""
    out = text_ops.compression_ratio(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", max_ratio=0.4
    )
    return (
        out.groupBy("keep")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_bytes").alias("bytes_sum"),
            F.round(F.sum(F.coalesce("ratio", F.lit(0.0))), 3).alias("ratio_sum"),
        )
        .orderBy("keep")
    )


def q_sim_semantic_dedup_bucketed_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the BUCKETED operating point a 100 TB corpus actually
    uses: IVF coarse quantizer (n_lists=4) partitions the embedding
    space, the greedy keep/drop runs per cluster.  ``sample_fraction=1.0``
    trains the quantizer on the full (500-row at this scale) corpus, so
    centroids — and therefore list assignment and every keep decision —
    are a pure deterministic function of the parquet bytes (the bounded
    hash-stratum sample stays the scale route; recall-tested in
    tests/test_similarity.py).  Digest per (list_id, keep): any flip of
    a single assignment or keep decision moves n/id_sum of its group."""
    out = sim_ops.semantic_dedup(
        _spread_scan(_t(spark, sf_dir, "embeddings")), "embedding", "vec_id",
        threshold=0.35, n_lists=4, sample_fraction=1.0,
    )
    return (
        out.groupBy("list_id", "keep")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vec_id").alias("id_sum"),
            F.round(F.sum(F.coalesce("max_sim_to_kept", F.lit(0.0))), 3).alias("sim_sum"),
        )
        .orderBy("list_id", "keep")
    )


def q_sim_diversity_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (diversity sampling, the
    keep-spread counterpart of SemDeDup) at the deterministic bucketed
    operating point (n_lists=4, full-corpus quantizer training like the
    bucketed SemDeDup digest): 60 picks apportioned over the 4 IVF
    clusters by size.  The farthest-point greedy is order-sequential —
    no ANSI-SQL oracle — so the per-cluster digest below is
    golden-pinned at sf0.01 with an independent no-Spark replica; any
    single pick change moves id_sum, any coverage change moves
    dist_sum."""
    out = sim_ops.diversity_sample(
        _spread_scan(_t(spark, sf_dir, "embeddings")), "embedding", "vec_id",
        n=60, n_lists=4, sample_fraction=1.0,
    )
    return (
        out.groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("vec_id").alias("id_sum"),
            F.round(F.sum(F.coalesce("min_dist", F.lit(0.0))), 3).alias("dist_sum"),
        )
        .orderBy("list_id")
    )


SQL_COSINE_NEARDUP = """
WITH ce AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v, generate_subscripts(embedding, 1) AS i FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ce GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
  FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
) WHERE cosine >= 0.35
"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", text_ops.token_count_col("text").cast("long").alias("n_tokens")
    )


SQL_TEXT_TOKEN_COUNT = """
SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.quality_score(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")
    return out.withColumns(
        {
            "n_chars": F.col("n_chars").cast("long"),
            "n_tokens": F.col("n_tokens").cast("long"),
        }
    )


SQL_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id, length(text)::BIGINT AS n_chars,
         len(string_split(text, ' '))::BIGINT AS n_tok,
         len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct
  FROM documents
)
SELECT doc_id, n_chars, n_tok AS n_tokens,
       round((n_chars - (n_tok - 1)) / n_tok, 6) AS mean_token_len,
       round(n_distinct / n_tok, 6) AS type_token_ratio,
       round(least(n_tok / 100.0, 1.0) * 0.4 + (n_distinct / n_tok) * 0.4
             + least(((n_chars - (n_tok - 1)) / n_tok) / 10.0, 1.0) * 0.2, 6) AS quality
FROM t
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    return text_ops.lang_id(docs, "text", "doc_id", threshold=0.05)



SQL_TEXT_LANG_ID = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         round(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, lower(x))))
               / len(toks), 6) AS stopword_frac
  FROM t
)
SELECT doc_id, stopword_frac,
       CASE WHEN stopword_frac >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang
FROM s
"""




# --------------------------------------------------------------------------
# rule-map containment (K3/K4 shell, mapBaseRetroRules shape)
# --------------------------------------------------------------------------

def q_rulemap_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 shell: candidate pairs by inverted index + size pre-filter (the
    mass analog), containment >= 0.8, assembled into the reference's
    rule_map is_in/has ;-lists."""
    return cont_ops.containment_map(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", min_containment=0.8
    )


SQL_RULEMAP_CONTAINMENT = (
    "WITH " + _SHINGLE_CTES + f"""
, e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
-- sizes and intersections share one filtered feature space (exact-under-cap)
keep AS (SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= {MAX_POSTING}),
ke AS (SELECT e.doc_id, e.shingle FROM e JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ke GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ke a JOIN ke b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
),
pairs AS (
  SELECT id_a AS inner_id, id_b AS outer_id, round(inter / sz_a, 6) AS containment
  FROM p
  WHERE (sz_a < sz_b OR (sz_a = sz_b AND id_a < id_b)) AND round(inter / sz_a, 6) >= 0.8
),
is_in AS (
  SELECT inner_id AS doc_id,
         array_to_string(list_sort(list_distinct(list(outer_id::VARCHAR))), ';') AS is_in
  FROM pairs GROUP BY inner_id
),
has AS (
  SELECT outer_id AS doc_id,
         array_to_string(list_sort(list_distinct(list(inner_id::VARCHAR))), ';') AS has
  FROM pairs GROUP BY outer_id
)
SELECT d.doc_id, coalesce(i.is_in, '') AS is_in, coalesce(h.has, '') AS has
FROM documents d LEFT JOIN is_in i ON i.doc_id = d.doc_id LEFT JOIN has h ON h.doc_id = d.doc_id
"""
)

def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, Schleimer et al. SIGMOD'03): 3-gram
    rolling hashes, window-4 minima, distinct per doc — pure window
    algebra, md5-prefix hashes shared bit-identically with the oracle."""
    from ..operators.text import winnowing_fingerprints

    return winnowing_fingerprints(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", k=3, window=4
    )


SQL_TEXT_WINNOWING = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          for i in generate_series(1, len(t) - 2)] AS s
  FROM tok
), e AS (
  SELECT doc_id, unnest(s) AS sg, generate_subscripts(s, 1) AS pos FROM sh
), h AS (
  SELECT doc_id, pos, ('0x' || substr(md5(sg), 1, 15))::BIGINT AS hv FROM e
), m AS (
  SELECT doc_id,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wlen
  FROM h
)
SELECT DISTINCT doc_id, fingerprint FROM m WHERE wlen = 4
"""


# --------------------------------------------------------------------------
# Gopher repetition filters / decontamination / chunking
# --------------------------------------------------------------------------

def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-filter battery (Rae et al. 2021 Table A1): char
    fraction in the top word n-gram (n=2,3,4) and in duplicated n-grams
    (n=5,6), each vs its published threshold + keep verdict."""
    from ..operators.text import repetition_rules

    return repetition_rules(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


def _ngram_list_sql(n: int) -> str:
    concat = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"[{concat} for i in generate_series(1, len(t) - {n - 1})]"


def _repetition_sql() -> str:
    from ..operators.text import DUP_NGRAM_MAX_FRAC, TOP_NGRAM_MAX_FRAC

    all_ns = sorted({*TOP_NGRAM_MAX_FRAC, *DUP_NGRAM_MAX_FRAC})
    gram_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {n} AS n, unnest({_ngram_list_sql(n)}) AS g FROM tok"
        for n in all_ns
    )
    top_cols, rule_exprs = [], []
    for n, mx in TOP_NGRAM_MAX_FRAC.items():
        frac = f"(coalesce(max(CASE WHEN n = {n} THEN top_chars END), 0) / chars)"
        top_cols.append(f"round({frac}, 6) AS top_{n}gram_frac")
        rule_exprs.append((f"({frac} <= {mx})", f"ok_top_{n}gram"))
    for n, mx in DUP_NGRAM_MAX_FRAC.items():
        frac = f"(coalesce(max(CASE WHEN n = {n} THEN dup_chars END), 0) / chars)"
        top_cols.append(f"round({frac}, 6) AS dup_{n}gram_frac")
        rule_exprs.append((f"({frac} <= {mx})", f"ok_dup_{n}gram"))
    rules = ", ".join(f"{e} AS {a}" for e, a in rule_exprs)
    keep = " AND ".join(e for e, _ in rule_exprs)
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS ({gram_union}),
counted AS (SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY doc_id, n, g),
per_n AS (
  SELECT doc_id, n,
         max(cnt * length(g)) AS top_chars,
         sum(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dup_chars
  FROM counted GROUP BY doc_id, n
),
spine AS (SELECT doc_id, length(text) AS chars FROM documents)
SELECT s.doc_id, {", ".join(top_cols)}, {rules}, ({keep}) AS keep
FROM spine s LEFT JOIN per_n p ON p.doc_id = s.doc_id
GROUP BY s.doc_id, s.chars
"""


SQL_TEXT_REPETITION = _repetition_sql()


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: train docs (doc_id % 20 != 0) flagged when
    they share any word 3-gram with the held-out docs (doc_id % 20 == 0)
    — the GPT-3 appendix-C recipe with a small n so tiny fixtures hit."""
    from ..operators.text import ngram_decontaminate

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    test = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return ngram_decontaminate(train, test, "text", "doc_id", n=3)


SQL_TEXT_DECONTAMINATE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t) - 2)]) AS gs
  FROM tok
),
e AS (SELECT doc_id, unnest(gs) AS ng FROM g),
test_set AS (SELECT DISTINCT ng FROM e WHERE doc_id % 20 = 0),
hits AS (
  SELECT e.doc_id, count(*) AS h
  FROM e JOIN test_set USING (ng)
  WHERE e.doc_id % 20 != 0
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       coalesce(h, 0)::BIGINT AS n_shared_ngrams,
       coalesce(h, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
WHERE d.doc_id % 20 != 0
"""


def q_text_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-doc contamination attribution (the transpose of
    text_decontaminate, same 1-in-20 held-out split and gram
    construction): exposure count + the worst training offender per
    held-out doc.  Registered r13 PAST the window (late addition —
    first r14 rotation per the budget rule); sf0.001 + sf0.01
    oracle-green locally pre-registration."""
    from ..operators.text import contamination_report

    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    test = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return contamination_report(train, test, "text", "doc_id", n=3)


SQL_TEXT_CONTAMINATION_REPORT = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t) - 2)]) AS gs
  FROM tok
),
e AS (SELECT doc_id, unnest(gs) AS ng FROM g),
te AS (SELECT doc_id AS test_id, ng FROM e WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id AS train_id, ng FROM e WHERE doc_id % 20 != 0),
pair AS (
  SELECT test_id, train_id, count(*) AS shared
  FROM te JOIN tr USING (ng) GROUP BY 1, 2
),
agg AS (SELECT test_id, count(*) AS n_train_docs FROM pair GROUP BY test_id),
best AS (
  SELECT test_id, train_id AS worst_train_id, shared AS worst_shared
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY test_id ORDER BY shared DESC, train_id ASC
    ) AS rn FROM pair
  ) WHERE rn = 1
)
SELECT d.doc_id AS test_id,
       coalesce(n_train_docs, 0)::BIGINT AS n_train_docs,
       worst_train_id::BIGINT AS worst_train_id,
       coalesce(worst_shared, 0)::BIGINT AS worst_shared
FROM documents d
LEFT JOIN agg ON agg.test_id = d.doc_id
LEFT JOIN best ON best.test_id = d.doc_id
WHERE d.doc_id % 20 = 0
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token-window chunking (context packing / RAG
    indexing): 32-token chunks, stride 24 — map-only, no shuffle."""
    from ..operators.text import chunk_documents

    return chunk_documents(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", chunk_tokens=32, stride=24
    )


SQL_DOC_CHUNKS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
k AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
           greatest(CAST(ceil(len(toks) / 24.0) AS INT), 1) - 1)) AS k
  FROM t
)
SELECT doc_id,
       k::BIGINT AS chunk_id,
       (k * 24)::BIGINT AS start_token,
       len(list_slice(toks, k * 24 + 1, k * 24 + 32))::BIGINT AS n_chunk_tokens,
       array_to_string(list_slice(toks, k * 24 + 1, k * 24 + 32), ' ') AS chunk_text
FROM k
"""


# --------------------------------------------------------------------------
# Exact-substring dup spans / BM25 term scoring / unigram LM perplexity
# --------------------------------------------------------------------------

_SUBSTR_K = 8


def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication stats (Lee et al. 2021 recipe at
    k-token-window granularity): per doc, windows whose text occurs
    more than once corpus-wide + duplicated fraction."""
    from ..operators.text import duplicated_ngram_spans

    return duplicated_ngram_spans(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", k=_SUBSTR_K
    )


SQL_TEXT_DUP_SPANS = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, md5(unnest({_ngram_list_sql(_SUBSTR_K)})) AS h FROM tok
),
cnt AS (SELECT h, count(*) AS c FROM g GROUP BY h),
pd AS (
  SELECT doc_id, count(*) AS n_windows,
         sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM g JOIN cnt USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_windows, 0)::BIGINT AS n_windows,
       coalesce(n_dup, 0)::BIGINT AS n_dup_windows,
       CASE WHEN coalesce(n_windows, 0) > 0
            THEN round(coalesce(n_dup, 0) / n_windows, 6) ELSE 0.0
       END AS dup_frac
FROM documents d LEFT JOIN pd USING (doc_id)
"""


# --------------------------------------------------------------------------
# Exact-substring dedup at SPAN granularity (Lee et al. 2022 ExactSubstr):
# where text_dup_spans above COUNTS duplicated windows per doc, these
# three recover the duplicated regions positionally (maximal token spans),
# account them per document, and perform the paper's actual dedup action
# (cut every occurrence but the corpus-first).  Operators in
# operators/dedup.py (gram fingerprinting + gaps-and-islands merge).
# --------------------------------------------------------------------------


def _substr_gram_ctes(w: int) -> str:
    """toks + grams CTEs: one row per (doc, pos) with the md5 digest of
    the w-token gram starting at 1-based pos — DuckDB twin of
    operators/dedup.with_token_grams (generate_series is empty for short
    docs where Spark needs the explicit n >= width guard)."""
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, i.i AS pos,
         md5(array_to_string(list_slice(t, i.i::INT, i.i::INT + {w - 1}), ' ')) AS g
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - {w} + 1, 0))) AS i) i
)"""


def _substr_island_ctes(src: str, w: int) -> str:
    """brk/isl/m CTEs merging gram-start rows of ``src`` (doc_id, pos)
    into maximal spans — DuckDB twin of dedup._merge_gram_islands."""
    return f"""brk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER win IS NULL
                   OR pos > lag(pos) OVER win + {w} THEN 1 ELSE 0 END AS b
  FROM {src} WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gi
  FROM brk
),
m AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + {w - 1} AS span_end
  FROM isl GROUP BY doc_id, gi
)"""


def q_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact token-length quantiles (pipeline distribution
    monitoring)."""
    return text_ops.length_quantiles(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", "source"
    )


_LQ_TOK = "len(string_split(text, ' '))"
SQL_TEXT_LENGTH_QUANTILES = f"""
SELECT source AS grp, count(*) AS n_docs,
       round(avg({_LQ_TOK}), 6) AS mean_tokens,
       round(quantile_cont({_LQ_TOK}, 0.25), 6) AS p25,
       round(quantile_cont({_LQ_TOK}, 0.5), 6) AS p50,
       round(quantile_cont({_LQ_TOK}, 0.75), 6) AS p75,
       round(quantile_cont({_LQ_TOK}, 0.95), 6) AS p95,
       round(quantile_cont({_LQ_TOK}, 0.99), 6) AS p99
FROM documents GROUP BY source
"""


def q_sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid vs the global centroid (cosine) —
    the distribution-shift monitor for embedding slices."""
    return sim_ops.centroid_drift(
        _spread_scan(_t(spark, sf_dir, "embeddings")), "embedding", "label"
    )


SQL_SIM_CENTROID_DRIFT = """
WITH ex AS (
  -- generate_subscripts + unnest zip positionally in DuckDB (lateral
  -- generate_series over a column is unsupported in 1.0)
  SELECT label AS grp, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS x
  FROM embeddings
),
per AS (SELECT grp, pos, avg(x) AS m FROM ex GROUP BY 1, 2),
gc AS (SELECT pos, avg(x) AS g FROM ex GROUP BY 1),
cnt AS (SELECT label AS grp, count(*) AS n_vecs FROM embeddings GROUP BY 1),
d AS (
  SELECT grp, sum(m * g) AS dot,
         sqrt(sum(m * m)) AS nm, sqrt(sum(g * g)) AS ng
  FROM per JOIN gc USING (pos) GROUP BY grp
)
SELECT grp, n_vecs, round(dot / (nm * ng), 6) AS cos_to_global
FROM cnt JOIN d USING (grp)
"""


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-first gram novelty (ingest-ranking signal)."""
    return dedup_ops.gram_novelty(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", width=_SUBSTR_K
    )


SQL_DOC_NOVELTY = f"""
WITH {_substr_gram_ctes(_SUBSTR_K)},
dg AS (SELECT DISTINCT doc_id, g FROM grams),
fst AS (SELECT g, min(doc_id) AS f FROM dg GROUP BY g),
pd AS (
  -- CAST: uncast DuckDB integer sums are HUGEINT and arrow-fetch as a
  -- different dtype class than Spark's int64 (the doc_pack_chunks
  -- lesson, guarded by conftest's dtype-class check)
  SELECT doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN doc_id = f THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM dg JOIN fst USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(pd.n_grams, 0) AS n_grams,
       coalesce(pd.n_novel, 0) AS n_novel,
       CASE WHEN pd.n_grams IS NOT NULL
            THEN round(pd.n_novel / pd.n_grams, 6) END AS novelty
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_doc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot MERGE semantics: a deterministic update batch (the
    md5-bucket < 20% slice with text uppercased, plus 50 brand-new
    ids) upserted into the documents snapshot — updates replace,
    inserts land, untouched rows carry through."""
    from ..operators.joins import upsert_snapshot
    from ..operators.sampling import _hash_bucket

    docs = _spread_scan(_t(spark, sf_dir, "documents")).select("doc_id", "text")
    tagged = docs.withColumn("__b", _hash_bucket(F.col("doc_id"), "upsert-v1"))
    updates = tagged.where(F.col("__b") < 200_000).select(
        "doc_id", F.upper("text").alias("text")
    )
    # 50 deterministic inserts: lowest 50 ids, offset out of key range
    inserts = (
        docs.orderBy(F.col("doc_id").asc())
        .limit(50)
        .select(
            (F.col("doc_id") + F.lit(50_000_000)).alias("doc_id"),
            F.concat(F.lit("NEW "), F.col("text")).alias("text"),
        )
    )
    return upsert_snapshot(docs, updates.unionByName(inserts), ["doc_id"])


SQL_DOC_UPSERT = """
WITH b AS (
  SELECT doc_id, text,
         ('0x' || substr(md5('upsert-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS bb
  FROM documents
),
upd AS (SELECT doc_id, upper(text) AS text FROM b WHERE bb < 200000),
ins AS (
  SELECT doc_id + 50000000 AS doc_id, 'NEW ' || text AS text
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id ASC LIMIT 50)
),
updates AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT d.doc_id, d.text FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM updates)
UNION ALL
SELECT doc_id, text FROM updates
"""


def q_dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report: MinHash Jaccard estimate vs exact shingle
    Jaccard (+ abs error) for every LSH candidate pair."""
    return dedup_ops.minhash_estimate_accuracy(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id"
    )


def _minhash_accuracy_sql() -> str:
    n = len(MINHASH_PERMS)
    eq = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return (
        "WITH "
        + _minhash_band_ctes("documents", "q").strip().rstrip(",")
        + f""",
ok AS (SELECT band, bkey FROM qbands GROUP BY band, bkey
       HAVING count(*) BETWEEN 2 AND {MAX_POSTING}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ok o JOIN qbands a ON a.band = o.band AND a.bkey = o.bkey
            JOIN qbands b ON b.band = o.band AND b.bkey = o.bkey
                         AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b, ({eq}) / {n}.0 AS est_jaccard
  FROM cand c JOIN qsig sa ON sa.doc_id = c.id_a
              JOIN qsig sb ON sb.doc_id = c.id_b
),
e2 AS (SELECT doc_id, unnest(s) AS shingle FROM qsh),
keep AS (SELECT shingle FROM e2 GROUP BY shingle HAVING count(*) <= {MAX_POSTING}),
ke AS (SELECT e2.doc_id, e2.shingle FROM e2 JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ke GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ke a JOIN ke b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
)
SELECT est.id_a, est.id_b, round(est_jaccard, 6) AS est_jaccard,
       coalesce(j.jaccard, 0.0) AS jaccard,
       round(abs(est_jaccard - coalesce(j.jaccard, 0.0)), 6) AS abs_err
FROM est LEFT JOIN j USING (id_a, id_b)
"""
    )


SQL_DEDUP_MINHASH_ACCURACY = _minhash_accuracy_sql()


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: 100 docs
    drawn proportional to n_chars (Efraimidis-Spirakis keys over md5
    uniforms)."""
    from ..operators.sampling import weighted_sample

    return weighted_sample(
        _spread_scan(_t(spark, sf_dir, "documents")), "doc_id", "n_chars", n=100
    )


SQL_DOC_WEIGHTED_SAMPLE = """
WITH k AS (
  SELECT doc_id, n_chars,
         -ln((('0x' || substr(md5('wsample-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              + 1.0) / 1152921504606846976.0) / n_chars AS key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM k ORDER BY key ASC, doc_id ASC LIMIT 100
"""


def q_text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word 3-grams with counts (boilerplate / stop-
    phrase discovery); total order (count desc, gram asc) so the limit
    is deterministic."""
    return text_ops.top_ngrams(_spread_scan(_t(spark, sf_dir, "documents")), "text", n=3, k=50)


SQL_TEXT_TOP_NGRAMS = f"""
WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
g AS (SELECT unnest({_ngram_list_sql(3)}) AS ngram FROM tok)
SELECT ngram, count(*) AS n_occurrences FROM g
GROUP BY ngram ORDER BY n_occurrences DESC, ngram ASC LIMIT 50
"""


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-50 word 3-grams via the two-phase Misra-Gries path
    (per-partition sketch -> exact candidate recount -> certificate;
    operators/text.heavy_hitters) — the scale path that never shuffles
    the full gram cardinality.  SAME oracle as text_top_ngrams, so a
    hash-green row certifies the sketch + recount + certificate
    machinery end-to-end against the brute-force answer (the
    dedup_incremental_indexed pattern).  capacity=16384 makes the MG
    certificate hold at every testdata scale (N/c50 is 5.2k at sf0.01,
    12.4k at sf0.1 — measured r12), so the CERTIFIED path, not the
    fallback, is what the driver hash-checks."""
    return text_ops.heavy_hitters(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", n=3, k=50, capacity=16384
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix: per source pair, shared
    distinct _SUBSTR_K-gram digests + Jaccard — the which-crawl-
    duplicates-which table at gram granularity (exact-content
    granularity is source_content_overlap; the testdata has no
    cross-source exact duplicates at the correctness scales, so the
    registered form overlaps at the gram level where the shared
    synthetic vocabulary gives real signal)."""
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    grams = dedup_ops.with_token_grams(docs, "text", "doc_id", _SUBSTR_K)
    keyed = grams.join(docs.select("doc_id", "source"), "doc_id").select(
        "source", "g"
    )
    return dedup_ops.set_overlap_matrix(keyed, "source", "g")


SQL_SOURCE_OVERLAP = f"""
WITH {_substr_gram_ctes(_SUBSTR_K)},
sd AS (
  SELECT DISTINCT d.source AS src, g.g AS key
  FROM grams g JOIN documents d USING (doc_id)
),
tot AS (SELECT src, count(*) AS n FROM sd GROUP BY src),
pr AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
  FROM sd a JOIN sd b ON a.key = b.key AND a.src < b.src
  GROUP BY 1, 2
)
SELECT src_a, src_b, ta.n AS n_a, tb.n AS n_b, n_shared,
       round(n_shared / (ta.n + tb.n - n_shared), 6) AS jaccard
FROM pr JOIN tot ta ON ta.src = src_a JOIN tot tb ON tb.src = src_b
"""


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans (>= _SUBSTR_K-gram resolution)."""
    return dedup_ops.duplicated_substring_spans(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", width=_SUBSTR_K
    )


SQL_DEDUP_SUBSTRING_SPANS = f"""
WITH {_substr_gram_ctes(_SUBSTR_K)},
cnt AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM grams JOIN cnt USING (g)),
{_substr_island_ctes("dup", _SUBSTR_K)}
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
FROM m
"""


def q_dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-TOKEN accounting over the merged spans (the
    fraction-of-corpus-removable number the paper reports); token-level
    sibling of text_dup_spans' window-level counts."""
    return dedup_ops.substring_dedup_stats(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", width=_SUBSTR_K
    )


SQL_DEDUP_SUBSTRING_STATS = f"""
WITH {_substr_gram_ctes(_SUBSTR_K)},
cnt AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM grams JOIN cnt USING (g)),
{_substr_island_ctes("dup", _SUBSTR_K)},
pd AS (
  SELECT doc_id, CAST(sum(span_end - span_start + 1) AS BIGINT) AS dt
  FROM m GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(pd.dt, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(pd.dt, 0) AS DOUBLE) / len(string_split(d.text, ' '))
           AS dup_fraction
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_dedup_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: text with every duplicated span cut except its
    corpus-first occurrence (exact-duplicate docs collapse to '')."""
    return dedup_ops.remove_duplicated_spans(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id", width=_SUBSTR_K
    )


SQL_DEDUP_SUBSTRING_REMOVE = f"""
WITH {_substr_gram_ctes(_SUBSTR_K)},
rk AS (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM grams
),
marked AS (SELECT doc_id, pos FROM rk WHERE c >= 2 AND rn > 1),
{_substr_island_ctes("marked", _SUBSTR_K)},
tokpos AS (
  SELECT doc_id, i.i AS pos, t[i.i::INT] AS tok
  FROM toks CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(t))) AS i) i
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM m
    WHERE m.doc_id = tp.doc_id AND tp.pos BETWEEN m.span_start AND m.span_end)
)
SELECT d.doc_id, coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text
FROM documents d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id
"""


_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 5


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 terms by BM25 (Okapi, +1-smoothed idf) with tf-idf
    alongside; ties broken by term text."""
    from ..operators.text import bm25_top_terms

    return bm25_top_terms(
        _spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id",
        top_k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B,
    )


# float literals below are repr()s of the exact Python doubles the Spark
# operator folds at plan-build time, so both engines evaluate the same
# IEEE expression tree (same multiply/divide order, same constants)
SQL_TEXT_BM25 = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS term FROM tok),
tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
         ln(1.0 + (c.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * ((tf.tf * {_BM25_K1 + 1.0!r})
              / (tf.tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r}
                                         + ({_BM25_B!r} * dl.dl) / c.avgdl))) AS bm25,
         (tf.tf / dl.dl) * ln(c.n_docs / dfr.df) AS tfidf
  FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term) CROSS JOIN corpus c
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY bm25 DESC, term ASC) AS rank
      FROM scored)
SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df,
       round(bm25, 6) AS bm25, round(tfidf, 6) AS tfidf, rank::BIGINT AS rank
FROM r WHERE rank <= {_BM25_TOPK}
"""


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score with a corpus-fit add-one unigram LM:
    per-doc cross-entropy + perplexity."""
    from ..operators.text import unigram_perplexity

    return unigram_perplexity(_spread_scan(_t(spark, sf_dir, "documents")), "text", "doc_id")


SQL_TEXT_PERPLEXITY = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
e AS (SELECT doc_id, unnest(t) AS term FROM tok),
tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term),
cw AS (SELECT term, sum(tf) AS cw FROM tf GROUP BY term),
corpus AS (SELECT sum(cw) AS t_total, count(*) AS vocab FROM cw),
pd AS (
  SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         -(sum(tf * ln((cw + 1.0) / (t_total + vocab)))) / sum(tf) AS h
  FROM tf JOIN cw USING (term) CROSS JOIN corpus GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(h, 6) AS cross_entropy,
       round(exp(h), 6) AS perplexity
FROM pd
"""


def q_plan_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composite: the full curation pipeline (Gopher filter →
    PII scrub → exact dedup on scrubbed text → near-dup drop → token
    accounting → split) in one lazy plan — the LLM-side flagship, the
    analogue of `plan_mass_annotation` for the omics side.  Deterministic
    PII is planted from the doc id (same construction as
    `text_pii_scrub`) so redaction does real work, and scrub-before-dedup
    makes docs differing only in contact details collapse."""
    from .data_pipeline import curate_documents

    docs = _spread_scan(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return curate_documents(docs, "text", "doc_id", min_jaccard=0.2)


SQL_PLAN_DATA_PIPELINE = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
  FROM documents
),
gt AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM planted),
gf AS (
  SELECT doc_id, text,
         len(toks) AS n_tokens,
         (length(text) - (len(toks) - 1)) / len(toks) AS mtl,
         (length(text) - length(replace(text, '#', ''))) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ell,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
         len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, lower(x)))) AS stop_hits
  FROM gt
),
kept AS (
  SELECT doc_id, text FROM gf
  WHERE (n_tokens >= 5 AND n_tokens <= 100000)
    AND (mtl >= 2.0 AND mtl <= 12.0)
    AND ((n_hash + n_ell) / n_tokens <= 0.1)
    AND (CAST(alpha_words AS DOUBLE) / n_tokens >= 0.6)
    AND (stop_hits >= 1)
),
{_pii_scrub_sql_ctes("kept")}, uniq AS (
  SELECT doc_id, scrubbed, n_redactions FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(scrubbed) ORDER BY doc_id) AS rn
    FROM scrub
  ) WHERE rn = 1
),
tok AS (SELECT doc_id, string_split(scrubbed, ' ') AS t FROM uniq),
sh AS (
  SELECT doc_id,
         list_distinct([{_SHINGLE_CONCAT}
                        for i in generate_series(1, len(t) - {SHINGLE_WIDTH - 1})]) AS s
  FROM tok
),
e AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
keep_sh AS (SELECT shingle FROM e GROUP BY shingle HAVING count(*) <= {MAX_POSTING}),
ke AS (SELECT e.doc_id, e.shingle FROM e JOIN keep_sh USING (shingle)),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ke GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ke a JOIN ke b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT id_b FROM (
    SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  ) WHERE jaccard >= 0.2
),
final AS (
  SELECT u.doc_id, u.scrubbed, u.n_redactions FROM uniq u
  WHERE u.doc_id NOT IN (SELECT id_b FROM drops)
)
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 1000000 < 900000 THEN 'train'
            WHEN ('0x' || substr(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 1000000 < 950000 THEN 'val'
            ELSE 'test' END AS split,
       len(string_split(scrubbed, ' '))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(scrubbed,
           '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+|\\s'))::BIGINT AS n_bpe_tokens,
       n_redactions
FROM final
"""


# ---------------------------------------------------------------------------
# table profiler + layout-pruned scan (r13 additive surface)

#: the documents columns q_doc_profile reports on — the oracle SQL below is
#: GENERATED from this same tuple so the two engines can never disagree on
#: the column set
PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass exact table profile of ``documents``: per-column row /
    non-null / null counts, null fraction, exact distinct count, and
    native-ordering min/max rendered as strings.  The registered form
    is the exact mode; the HLL++ ``approx=True`` mode is the documented
    100 TB path and is property-tested against this one
    (tests/test_operators.py)."""
    from ..operators.profile import profile_table

    return profile_table(
        _spread_scan(_t(spark, sf_dir, "documents")), list(PROFILE_COLS), approx=False
    )


SQL_DOC_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
       count({c})::BIGINT AS n_nonnull,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       round((count(*) - count({c})) / count(*)::DOUBLE, 6) AS null_frac,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents"""
    for c in PROFILE_COLS
)


# previous generation of the pruned-scan layout dir, removed on the next
# invocation (same single-live-generation discipline as the dedup index
# registrations above)
_LAYOUT_LAST: list[str] = []


def q_doc_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware scan: documents written partitioned-by-source and
    clustered-by-doc_id (sources/layout.py), then read back under a
    source equality + doc_id range predicate and aggregated per lang.
    The point is the PLAN, locked by tests/test_plans.py: the source
    predicate becomes PartitionFilters (non-matching directories are
    never listed) and the doc_id range is in PushedFilters against
    tight row-group stats — the only scan shape that survives 100 TB.
    The aggregate itself answers to the direct oracle on the raw
    table, proving layout round-trip fidelity."""
    import shutil
    import tempfile

    from ..sources.layout import read_table, write_partitioned

    while _LAYOUT_LAST:
        shutil.rmtree(_LAYOUT_LAST.pop(), ignore_errors=True)
    path = tempfile.mkdtemp(prefix="doc_layout_")
    _LAYOUT_LAST.append(path)
    docs = _spread_scan(_t(spark, sf_dir, "documents"))
    write_partitioned(docs, path, ["source"], cluster_by=["doc_id"])
    pruned = read_table(spark, path).where(
        (F.col("source") == "src7") & (F.col("doc_id") < 300)
    )
    return pruned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


SQL_DOC_PRUNED_SCAN = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents
WHERE source = 'src7' AND doc_id < 300
GROUP BY lang
"""


# ONE live persisted ANN index per (pid, sf_dir), SHARED by the three
# consumers (r14 verdict item 4 — the slow tier used to pay the same
# 16-list k-means build twice): the lifecycle query q_sim_index_topk
# drops every live generation and builds fresh (its timed rep IS the
# build+probe number), then PUBLISHES the index here; the recall
# certificate and the bench-only steady-state probe reuse it.  Safe to
# share because build_ann_index is bit-deterministic in its input (the
# k-means seeds are evenly spaced rows of the id-sorted sample), so a
# reused index is identical to a rebuilt one — asserted by the recall
# query's golden VALUES pin staying green through this change.
_ANN_IDX_SHARED: dict[str, object] = {}
_ANN_IDX_SEQ = itertools.count()


def _drop_shared_ann_indexes(spark: SparkSession) -> None:
    """Drop every live shared ANN index generation (catalog table +
    data dir) — single-live-generation disk discipline, same as the
    dedup index registrations."""
    import shutil

    while _ANN_IDX_SHARED:
        _, idx = _ANN_IDX_SHARED.popitem()
        try:
            spark.sql(f"DROP TABLE IF EXISTS {idx.lists_table}")
        except Exception:  # noqa: BLE001 — session may be gone at exit
            pass
        shutil.rmtree(idx.path, ignore_errors=True)


def _shared_ann_index(spark: SparkSession, sf_dir: str):
    """Return the shared persisted IVF index for (pid, sf_dir),
    building and publishing it if absent (16 lists over the embeddings
    table — the one configuration all three consumer queries use)."""
    import tempfile

    from ..operators.similarity import build_ann_index

    key = f"{os.getpid()}:{sf_dir}"
    idx = _ANN_IDX_SHARED.get(key)
    if idx is None:
        emb = _spread_scan(_t(spark, sf_dir, "embeddings"))
        name = f"ann_idx_{os.getpid()}_{next(_ANN_IDX_SEQ)}"
        path = tempfile.mkdtemp(prefix="sim_ann_idx_")
        idx = build_ann_index(emb, "embedding", "vec_id", name, path, n_lists=16)
        _ANN_IDX_SHARED[key] = idx
    return idx


def q_sim_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN against the PERSISTED IVF index (build + attach-shape probe
    end-to-end), in exact mode (n_probes == n_lists) so it answers the
    same brute-force oracle as ``sim_ivf_topk`` — hash-green proves the
    persisted lifecycle (bucketed lists table, stored centroids, probe
    with bucket pruning) returns exactly what the in-memory IVF path
    returns.  The steady-state point of the index — probe cost
    O(probed buckets) with no re-train/re-assign — is what a nightly
    similarity service repeats; tests assert probe==ivf_topk at
    approximate settings too.

    This is the LIFECYCLE entry: every invocation drops the live
    generation and rebuilds (the bench times build+probe end-to-end);
    the build is then shared with ``sim_index_recall`` and the
    bench-only ``q_sim_index_probe`` so the same k-means never runs
    twice in one session (r14 verdict item 4)."""
    from ..operators.similarity import ann_index_topk

    _drop_shared_ann_indexes(spark)
    idx = _shared_ann_index(spark, sf_dir)
    emb = _spread_scan(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") % 50 == 0)
    out = ann_index_topk(spark, queries, idx, k=5, n_probes=16)
    return out.select(
        "query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank")
    )


def q_sim_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY (deliberately NOT in QUERIES_DOCS — the rotation-pool
    budget rule): the steady-state ANN PROBE against a prebuilt
    persisted index.  ``q_sim_index_topk`` stays the driver query
    (build+probe end-to-end is what the oracle hash-checks), but its
    per-rep wall is ~all index BUILD; the number worth tracking
    round-over-round is the probe a similarity service repeats, timed
    here in isolation.  Result-identical to ``sim_index_topk``
    (same centroids config, exact mode).  Reuses the shared index the
    preceding ``sim_index_topk`` slow-tier entry built (builds one only
    if invoked standalone)."""
    from ..operators.similarity import ann_index_topk

    idx = _shared_ann_index(spark, sf_dir)
    emb = _spread_scan(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") % 50 == 0)
    out = ann_index_topk(spark, queries, idx, k=5, n_probes=16)
    return out.select(
        "query_id", "cand_id", "score", F.col("rank").cast("long").alias("rank")
    )


def q_sim_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index at its real operating point (r13 verdict item 3):
    build the persisted IVF index, then certify recall@k IN-PLAN at the
    approximate probe settings (1, 2, 4, 8 of 16 lists) against the
    exact full-probe top-k — one certificate row per setting, plus the
    full-probe self-check row whose recall must be exactly 1.0.  The
    recall values are micro-averaged integer ratios (bit-deterministic:
    see ann_recall_certificate), so the expected output is pinned as a
    golden VALUES oracle on the seeded sf0.01 embeddings — the driver's
    hash compare now locks the index's APPROXIMATE contract, not just
    its degenerate-exact one (``sim_index_topk``).

    Reuses the SHARED index generation if ``sim_index_topk`` already
    built one this session (r14 verdict item 4 — the k-means build is
    deterministic, so a reused index certifies identically to a fresh
    one; the golden pin stayed green through this change), building
    only when invoked standalone."""
    from ..operators.similarity import ann_recall_certificate

    idx = _shared_ann_index(spark, sf_dir)
    emb = _spread_scan(_t(spark, sf_dir, "embeddings"))
    # denser query set than sim_index_topk's (the corpus is small at
    # test SFs): 50 queries at sf0.01 gives the certificate real
    # resolution on min_recall
    queries = emb.where(F.col("vec_id") % 10 == 0)
    return ann_recall_certificate(
        spark, queries, idx, k=5, probe_settings=(1, 2, 4, 8)
    )


def q_doc_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: volume, mean curation-gate quality,
    exact-dup fraction, language spread — the corpus-release summary,
    exact form (the HLL approx form is the documented scale path)."""
    from .data_pipeline import dataset_card

    return dataset_card(_spread_scan(_t(spark, sf_dir, "documents")))


# previous generation of the CDC snapshot dir (r14), cleaned on next
# entry + by cleanup_registry_state — same single-live-generation
# discipline as the index registrations above.  The snapshot queries
# below read ``documents`` WITHOUT _spread_scan: a commit has no per-row
# compute for the fan-out to spread, and its extra exchange would sit
# under every action of every commit.
_SNAP_LAST: list[str] = []


def q_doc_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC right-to-be-forgotten round-trip (r14): seed a BUCKETED
    snapshot from documents, apply one CDC batch — tombstones for
    doc_id %% 17 == 0 (the forget set) plus re-ingested rows with
    doubled n_chars for doc_id %% 23 == 0 — then read the surviving
    snapshot back and aggregate per source.  Answers a plain SQL oracle
    on the raw table: hash-green proves the manifest/bucket machinery
    (streaming/sinks.py _bucketed_commit) preserves exactly the
    anti-join ∪ upsert semantics through a delete-bearing commit,
    including emptied-bucket manifest drops, end to end."""
    import shutil
    import tempfile

    from ..streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
    )

    while _SNAP_LAST:
        shutil.rmtree(_SNAP_LAST.pop(), ignore_errors=True)
    path = tempfile.mkdtemp(prefix="doc_forget_snap_")
    _SNAP_LAST.append(path)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    seed = docs.withColumn("op", F.lit("upsert"))
    apply_cdc_batch_into_bucketed_snapshot(
        spark, seed, path, ["doc_id"], batch_id=0, n_buckets=16
    )
    dels = docs.where(F.col("doc_id") % 17 == 0).withColumn(
        "op", F.lit("delete")
    )
    ups = (
        docs.where((F.col("doc_id") % 23 == 0) & (F.col("doc_id") % 17 != 0))
        .withColumn("n_chars", F.col("n_chars") * 2)
        .withColumn("op", F.lit("upsert"))
    )
    apply_cdc_batch_into_bucketed_snapshot(
        spark, dels.unionByName(ups), path, ["doc_id"], batch_id=1, n_buckets=16
    )
    snap = read_bucketed_snapshot(spark, path)
    return snap.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


SQL_DOC_FORGET = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN doc_id % 23 = 0 THEN n_chars * 2 ELSE n_chars END)::BIGINT AS sum_chars,
       sum(doc_id)::BIGINT AS id_sum
FROM documents
WHERE doc_id % 17 <> 0
GROUP BY source
"""


def q_doc_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel audit over the bucketed snapshot (r15, rides the r14
    verdict item 2 commit primitive): seed a snapshot from documents
    (commit 0), apply an update wave — doubled n_chars for
    doc_id %% 5 == 0 (commit 1) — then read BOTH generations through
    the retained manifests (``manifest=`` time travel for v0, CURRENT
    for v1) and report the per-source before/after comparison an
    auditor of a training-data release would run.  Answers a plain SQL
    oracle on the raw table: hash-green proves manifest retention keeps
    superseded generations byte-readable and the time-travel reader
    resolves exactly the committed horizon (the r14-ADVICE pre-flip-
    leftover refusal lives on the same code path).  The reference has
    no snapshot machinery at all (its sinks are one-shot CSV/SQLite
    writes — integrative_omics/gizmos.py); north-star surface."""
    import shutil
    import tempfile

    from ..streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    while _SNAP_LAST:
        shutil.rmtree(_SNAP_LAST.pop(), ignore_errors=True)
    path = tempfile.mkdtemp(prefix="doc_tt_snap_")
    _SNAP_LAST.append(path)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    upsert_batch_into_bucketed_snapshot(
        spark, docs, path, ["doc_id"], batch_id=0, n_buckets=16
    )
    upd = docs.where(F.col("doc_id") % 5 == 0).withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    upsert_batch_into_bucketed_snapshot(
        spark, upd, path, ["doc_id"], batch_id=1, n_buckets=16
    )
    v0 = read_bucketed_snapshot(spark, path, manifest="m000000000000.json")
    v1 = read_bucketed_snapshot(spark, path)
    a0 = v0.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars_v0"),
    )
    a1 = v1.groupBy("source").agg(
        F.sum("n_chars").alias("sum_chars_v1"),
        F.sum(
            F.when(F.col("doc_id") % 5 == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_changed"),
    )
    return a0.join(a1, "source").select(
        "source", "n_docs", "sum_chars_v0", "sum_chars_v1", "n_changed"
    )


SQL_DOC_SNAPSHOT_TIMETRAVEL = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars_v0,
       sum(CASE WHEN doc_id % 5 = 0 THEN n_chars * 2 ELSE n_chars END)::BIGINT AS sum_chars_v1,
       sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_changed
FROM documents
GROUP BY source
"""


def q_doc_snapshot_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot maintenance round-trip (r15): seed a bucketed snapshot
    from documents at n_buckets=4 (commit 0), apply an update wave —
    n_chars tripled for doc_id %% 7 == 0 (commit 1, fragmenting the
    bucket map across two version dirs) — then RE-BUCKET to 16
    (commit 2, the offline resize/compaction the n_buckets pin
    otherwise forbids) and MERGE one more wave at the new modulus —
    n_chars zeroed for doc_id %% 11 == 0 (commit 3).  The per-source
    aggregate of the final snapshot answers a plain SQL oracle on the
    raw table: hash-green proves the maintenance commit preserves every
    row bit-for-bit through the modulus change AND that post-resize
    incremental MERGE semantics are intact.  The reference has no
    snapshot machinery (one-shot writes, integrative_omics/gizmos.py);
    north-star surface."""
    import shutil
    import tempfile

    from ..streaming.sinks import (
        read_bucketed_snapshot,
        rebucket_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    while _SNAP_LAST:
        shutil.rmtree(_SNAP_LAST.pop(), ignore_errors=True)
    path = tempfile.mkdtemp(prefix="doc_rebucket_snap_")
    _SNAP_LAST.append(path)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    upsert_batch_into_bucketed_snapshot(
        spark, docs, path, ["doc_id"], batch_id=0, n_buckets=4
    )
    upd = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "n_chars", F.col("n_chars") * 3
    )
    upsert_batch_into_bucketed_snapshot(
        spark, upd, path, ["doc_id"], batch_id=1, n_buckets=4
    )
    rebucket_bucketed_snapshot(
        spark, path, ["doc_id"], batch_id=2, new_n_buckets=16
    )
    upd2 = docs.where(F.col("doc_id") % 11 == 0).withColumn(
        "n_chars", F.col("n_chars") * 0  # zeroed, dtype preserved
    )
    upsert_batch_into_bucketed_snapshot(
        spark, upd2, path, ["doc_id"], batch_id=3, n_buckets=16
    )
    snap = read_bucketed_snapshot(spark, path)
    return snap.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.col("doc_id") % 16).alias("bucket_checksum"),
    )


SQL_DOC_SNAPSHOT_REBUCKET = """
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN doc_id % 11 = 0 THEN 0
                WHEN doc_id % 7 = 0 THEN n_chars * 3
                ELSE n_chars END)::BIGINT AS sum_chars,
       sum(doc_id % 16)::BIGINT AS bucket_checksum
FROM documents
GROUP BY source
"""


def q_doc_snapshot_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanctioned schema-evolution round-trip (r16, the r15 verdict's
    "what's missing" item 2): seed a bucketed snapshot from documents
    (commit 0), MERGE an update wave — n_chars + 1000 for
    doc_id %% 13 == 0 (commit 1) — then EVOLVE the value schema through
    the maintenance commit's ``transform`` (commit 2: an O(snapshot)
    rewrite adding a derived ``n_kchars = n_chars div 1000`` column,
    which re-pins ``value_schema``), and MERGE one more wave in the NEW
    shape — n_chars halved for doc_id %% 9 == 0, n_kchars recomputed
    (commit 3).  Before evolving, the query PROVES the refusal half of
    the contract: an ad-hoc commit in the widened shape must raise (the
    value-schema pin — r15 verdict item 1 — is what makes ``transform``
    the only way schemas change), and after evolving, a commit in the
    OLD shape must raise.  The per-source aggregate of the final
    snapshot answers a plain SQL oracle on the raw table: hash-green
    proves evolution preserved every row, re-pinned the schema, and
    left post-evolution MERGE semantics intact.  The reference has no
    snapshot machinery (one-shot writes, integrative_omics/gizmos.py);
    north-star surface."""
    import shutil
    import tempfile

    from ..streaming.sinks import (
        read_bucketed_snapshot,
        rebucket_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    while _SNAP_LAST:
        shutil.rmtree(_SNAP_LAST.pop(), ignore_errors=True)
    path = tempfile.mkdtemp(prefix="doc_evolve_snap_")
    _SNAP_LAST.append(path)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    upsert_batch_into_bucketed_snapshot(
        spark, docs, path, ["doc_id"], batch_id=0, n_buckets=8
    )
    upd = docs.where(F.col("doc_id") % 13 == 0).withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    upsert_batch_into_bucketed_snapshot(
        spark, upd, path, ["doc_id"], batch_id=1, n_buckets=8
    )
    # the refusal half of the evolution contract: ad-hoc widening must
    # be refused by the value-schema pin (all-new-keys path included —
    # this batch only carries existing keys, the pin runs before either)
    widened = upd.withColumn("n_kchars", F.expr("n_chars div 1000"))
    try:
        upsert_batch_into_bucketed_snapshot(
            spark, widened, path, ["doc_id"], batch_id=2, n_buckets=8
        )
        raise RuntimeError(
            "value-schema pin FAILED to refuse an ad-hoc widened commit"
        )
    except ValueError:
        pass
    rebucket_bucketed_snapshot(
        spark, path, ["doc_id"], batch_id=2, new_n_buckets=8,
        transform=lambda df: df.withColumn(
            "n_kchars", F.expr("n_chars div 1000")
        ),
    )
    c1 = F.when(
        F.col("doc_id") % 13 == 0, F.col("n_chars") + 1000
    ).otherwise(F.col("n_chars"))
    upd2 = (
        docs.where(F.col("doc_id") % 9 == 0)
        .withColumn("n_chars", c1)
        .withColumn("n_chars", F.expr("n_chars div 2"))
        .withColumn("n_kchars", F.expr("n_chars div 1000"))
    )
    # post-evolution, the OLD shape is the drifted one — also refused
    try:
        upsert_batch_into_bucketed_snapshot(
            spark, upd2.drop("n_kchars"), path, ["doc_id"],
            batch_id=3, n_buckets=8,
        )
        raise RuntimeError(
            "value-schema pin FAILED to refuse a pre-evolution-shape commit"
        )
    except ValueError:
        pass
    upsert_batch_into_bucketed_snapshot(
        spark, upd2, path, ["doc_id"], batch_id=3, n_buckets=8
    )
    snap = read_bucketed_snapshot(spark, path)
    return snap.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_kchars").alias("sum_kchars"),
    )


SQL_DOC_SNAPSHOT_EVOLVE = """
WITH base AS (
  SELECT doc_id, source,
         (CASE WHEN doc_id % 13 = 0 THEN n_chars + 1000
               ELSE n_chars END)::BIGINT AS c1
  FROM documents
), final AS (
  SELECT source,
         CASE WHEN doc_id % 9 = 0 THEN c1 // 2 ELSE c1 END AS n_chars,
         CASE WHEN doc_id % 9 = 0 THEN (c1 // 2) // 1000
              ELSE c1 // 1000 END AS n_kchars
  FROM base
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars,
       sum(n_kchars)::BIGINT AS sum_kchars
FROM final
GROUP BY source
"""


SQL_DOC_DATASET_CARD = """
WITH t AS (
  SELECT source, lang, text, length(text)::BIGINT AS n_chars,
         len(string_split(text, ' '))::BIGINT AS n_tok,
         len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS n_chars,
       sum(n_tok)::BIGINT AS n_ws_tokens,
       round(avg(least(n_tok / 100.0, 1.0) * 0.4 + (n_distinct / n_tok) * 0.4
                 + least(((n_chars - (n_tok - 1)) / n_tok) / 10.0, 1.0) * 0.2),
             6) AS mean_quality,
       round(1 - count(DISTINCT md5(text)) / count(*)::DOUBLE, 6) AS dup_frac,
       count(DISTINCT lang)::BIGINT AS n_langs
FROM t GROUP BY source
"""


QUERIES_DOCS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "plan_data_pipeline": q_plan_data_pipeline,
    "rulemap_containment": q_rulemap_containment,
    "dedup_exact": q_dedup_exact,
    "dedup_fingerprint": q_dedup_fingerprint,
    "dedup_minhash_signatures": q_minhash_signatures,
    "dedup_lsh_pairs": q_lsh_candidate_pairs,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_indexed": q_dedup_incremental_indexed,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_components": q_dedup_components,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_simhash": q_simhash,
    "dedup_simhash_pairs": q_simhash_pairs,
    "doc_split": q_doc_split,
    "doc_split_leakage_safe": q_doc_split_leakage_safe,
    "mix_domains": q_mix_domains,
    "pipeline_funnel": q_pipeline_funnel,
    "events_funnel": q_events_funnel,
    "pipeline_curate": q_pipeline_curate,
    "doc_pack_chunks": q_doc_pack_chunks,
    "doc_pack_chunks_digest": q_doc_pack_chunks_digest,
    "probe_double_pmod": q_probe_double_pmod,
    "probe_cum_frame": q_probe_cum_frame,
    "sim_ann_topk": q_ann_topk,
    "sim_ivf_topk": q_sim_ivf_topk,
    "sim_cosine_neardup": q_cosine_neardup,
    "sim_semantic_dedup_digest": q_sim_semantic_dedup_digest,
    "sim_semantic_dedup_bucketed_digest": q_sim_semantic_dedup_bucketed_digest,
    "sim_diversity_digest": q_sim_diversity_digest,
    "text_compression_ratio_digest": q_text_compression_ratio_digest,
    "text_token_count": q_text_token_count,
    "text_quality": q_text_quality,
    "text_gopher": q_text_gopher,
    "text_token_counts": q_text_token_counts,
    "text_pii_scrub": q_text_pii_scrub,
    "text_winnowing": q_text_winnowing,
    "text_lang_id": q_text_lang_id,
    "text_repetition": q_text_repetition,
    "text_decontaminate": q_text_decontaminate,
    "text_contamination_report": q_text_contamination_report,
    "doc_chunks": q_doc_chunks,
    "text_dup_spans": q_text_dup_spans,
    "doc_novelty": q_doc_novelty,
    "sim_centroid_drift": q_sim_centroid_drift,
    "text_length_quantiles": q_text_length_quantiles,
    "source_overlap": q_source_overlap,
    "text_top_ngrams": q_text_top_ngrams,
    "text_heavy_hitters": q_text_heavy_hitters,
    "doc_weighted_sample": q_doc_weighted_sample,
    "dedup_minhash_accuracy": q_dedup_minhash_accuracy,
    "doc_upsert": q_doc_upsert,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_substring_stats": q_dedup_substring_stats,
    "dedup_substring_remove": q_dedup_substring_remove,
    "text_bm25": q_text_bm25,
    "text_perplexity": q_text_perplexity,
    "doc_profile": q_doc_profile,
    "doc_pruned_scan": q_doc_pruned_scan,
    "doc_dataset_card": q_doc_dataset_card,
    "sim_index_topk": q_sim_index_topk,
    "sim_index_recall": q_sim_index_recall,
    "doc_forget": q_doc_forget,
    "doc_snapshot_timetravel": q_doc_snapshot_timetravel,
    "doc_snapshot_rebucket": q_doc_snapshot_rebucket,
    "doc_snapshot_evolve": q_doc_snapshot_evolve,
}

ORACLES_DOCS: dict[str, str] = {
    "plan_data_pipeline": SQL_PLAN_DATA_PIPELINE,
    "rulemap_containment": SQL_RULEMAP_CONTAINMENT,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_fingerprint": SQL_DEDUP_FINGERPRINT,
    "dedup_minhash_signatures": SQL_MINHASH_SIGNATURES,
    "dedup_lsh_pairs": SQL_LSH_CANDIDATE_PAIRS,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    # the indexed probe path must produce verdicts IDENTICAL to the scan
    # path, so it answers to the very same oracle
    "dedup_incremental_indexed": SQL_DEDUP_INCREMENTAL,
    "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "dedup_simhash": SQL_SIMHASH,
    "dedup_simhash_pairs": SQL_SIMHASH_PAIRS,
    "doc_split": SQL_DOC_SPLIT,
    "doc_split_leakage_safe": SQL_DOC_SPLIT_LEAKAGE_SAFE,
    "mix_domains": SQL_MIX_DOMAINS,
    "pipeline_funnel": SQL_PIPELINE_FUNNEL,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "pipeline_curate": SQL_PIPELINE_CURATE,
    "doc_pack_chunks": SQL_DOC_PACK_CHUNKS,
    "doc_pack_chunks_digest": SQL_DOC_PACK_CHUNKS_DIGEST,
    "probe_double_pmod": SQL_PROBE_DOUBLE_PMOD,
    "probe_cum_frame": SQL_PROBE_CUM_FRAME,
    "sim_ann_topk": SQL_ANN_TOPK,
    "sim_ivf_topk": SQL_ANN_TOPK,
    "sim_cosine_neardup": SQL_COSINE_NEARDUP,
    # sim_semantic_dedup_bucketed_digest: golden VALUES oracle lives in
    # plans/golden_oracles.py (order-sequential greedy — no ANSI-SQL form)
    "text_token_count": SQL_TEXT_TOKEN_COUNT,
    "text_quality": SQL_TEXT_QUALITY,
    "text_gopher": SQL_TEXT_GOPHER,
    "text_token_counts": SQL_TEXT_TOKEN_COUNTS,
    "text_pii_scrub": SQL_TEXT_PII_SCRUB,
    "text_winnowing": SQL_TEXT_WINNOWING,
    "text_lang_id": SQL_TEXT_LANG_ID,
    "text_repetition": SQL_TEXT_REPETITION,
    "text_decontaminate": SQL_TEXT_DECONTAMINATE,
    "text_contamination_report": SQL_TEXT_CONTAMINATION_REPORT,
    "doc_chunks": SQL_DOC_CHUNKS,
    "text_dup_spans": SQL_TEXT_DUP_SPANS,
    "doc_novelty": SQL_DOC_NOVELTY,
    "sim_centroid_drift": SQL_SIM_CENTROID_DRIFT,
    "text_length_quantiles": SQL_TEXT_LENGTH_QUANTILES,
    "source_overlap": SQL_SOURCE_OVERLAP,
    "text_top_ngrams": SQL_TEXT_TOP_NGRAMS,
    "text_heavy_hitters": SQL_TEXT_TOP_NGRAMS,
    "doc_weighted_sample": SQL_DOC_WEIGHTED_SAMPLE,
    "dedup_minhash_accuracy": SQL_DEDUP_MINHASH_ACCURACY,
    "doc_upsert": SQL_DOC_UPSERT,
    "dedup_substring_spans": SQL_DEDUP_SUBSTRING_SPANS,
    "dedup_substring_stats": SQL_DEDUP_SUBSTRING_STATS,
    "dedup_substring_remove": SQL_DEDUP_SUBSTRING_REMOVE,
    "text_bm25": SQL_TEXT_BM25,
    "text_perplexity": SQL_TEXT_PERPLEXITY,
    "doc_profile": SQL_DOC_PROFILE,
    "doc_pruned_scan": SQL_DOC_PRUNED_SCAN,
    "doc_dataset_card": SQL_DOC_DATASET_CARD,
    # the persisted-index probe must return exactly what the in-memory
    # IVF exact mode returns, so it answers the very same oracle
    "sim_index_topk": SQL_ANN_TOPK,
    "doc_forget": SQL_DOC_FORGET,
    "doc_snapshot_timetravel": SQL_DOC_SNAPSHOT_TIMETRAVEL,
    "doc_snapshot_rebucket": SQL_DOC_SNAPSHOT_REBUCKET,
    "doc_snapshot_evolve": SQL_DOC_SNAPSHOT_EVOLVE,
}


def cleanup_registry_state() -> None:
    """Session-exit hygiene (r13 verdict item 8): drop the single live
    generation of every registry-managed side artifact — the
    ``_INCR_IDX_LAST`` dedup index, the ``_LAYOUT_LAST`` pruned-scan
    layout dir, the ``_ANN_IDX_SHARED`` ANN indexes, and the bench-only
    memoized probe indexes.  The per-query functions already clean the
    *previous* generation on entry; this closes the final one so no
    ``sim_ann_idx_*`` / ``dedup_incr_idx_*`` / ``doc_layout_*`` tempdir
    (or catalog table) outlives the process.  Data dirs are removed
    unconditionally; catalog tables only when a live session still
    exists (at interpreter exit the JVM may already be gone — the
    tables are session-catalog entries, so they die with it anyway)."""
    import shutil

    try:
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None

    def _drop(tables: list[str], path: str) -> None:
        if spark is not None:
            for t in tables:
                try:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
                except Exception:
                    pass
        shutil.rmtree(path, ignore_errors=True)

    while _INCR_IDX_LAST:
        tables, path = _INCR_IDX_LAST.pop()
        _drop(tables, path)
    while _LAYOUT_LAST:
        shutil.rmtree(_LAYOUT_LAST.pop(), ignore_errors=True)
    while _ANN_IDX_SHARED:
        _, idx = _ANN_IDX_SHARED.popitem()
        _drop([idx.lists_table], idx.path)
    while _SNAP_LAST:
        shutil.rmtree(_SNAP_LAST.pop(), ignore_errors=True)
    for idx in _PROBE_IDX.values():
        _drop([idx.digests_table, idx.bands_table], idx.path)
    _PROBE_IDX.clear()


import atexit  # noqa: E402

atexit.register(cleanup_registry_state)
