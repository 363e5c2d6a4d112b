

def test_hot_band_buckets_reports_capped_lsh_buckets(spark):
    """A corpus of identical docs lands every doc in the same band buckets;
    with max_posting below the corpus size the audit must surface them and
    lsh_candidate_pairs must drop them."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        hot_band_buckets,
        lsh_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)],
        "doc_id long, text string",
    )
    hot = hot_band_buckets(docs, "text", "doc_id", max_posting=8).collect()
    assert len(hot) > 0 and all(r["n_docs"] == 12 for r in hot)
    assert lsh_candidate_pairs(docs, "text", "doc_id", max_posting=8).count() == 0
    # with a cap above the corpus the pairs reappear
    assert lsh_candidate_pairs(docs, "text", "doc_id", max_posting=20).count() == 66


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """MOSS guarantee: any shared token run of length >= window + k - 1
    (= 6 here) yields at least one shared fingerprint; disjoint docs
    share none."""
    from omics_data_integration_utilities_spark.operators.text import (
        winnowing_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"five six seven {shared} eight"),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs, "text", "doc_id", k=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # determinism across runs
    again = {}
    for r in winnowing_fingerprints(docs, "text", "doc_id", k=3, window=4).collect():
        again.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert again == by_doc


def test_connected_components_chain_and_singleton(spark):
    from omics_data_integration_utilities_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(3, 5), (5, 9), (9, 11), (20, 21)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame([(3,), (5,), (9,), (11,), (20,), (21,), (42,)], "id_a long")
    out = {r["id"]: (r["component"], r["is_canonical"]) for r in
           connected_components(pairs, vertices=verts).collect()}
    # 4-node chain needs multi-hop propagation to reach min=3
    assert out[3] == (3, True)
    assert out[5] == (3, False)
    assert out[9] == (3, False)
    assert out[11] == (3, False)
    assert out[20] == (20, True) and out[21] == (20, False)
    assert out[42] == (42, True)  # isolated vertex is its own component


def test_hash_split_stable_and_partition_invariant(spark):
    """Split assignment depends only on (salt, id): repartitioning or
    re-running never moves a row; fractions land near targets."""
    from omics_data_integration_utilities_spark.operators.sampling import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in
         hash_split(df.repartition(17), "doc_id").collect()}
    assert a == b
    from collections import Counter
    c = Counter(a.values())
    assert abs(c["train"] / 5000 - 0.90) < 0.02
    assert abs(c["val"] / 5000 - 0.05) < 0.01
    assert abs(c["test"] / 5000 - 0.05) < 0.01
    # adding rows never reshuffles old ids
    bigger = spark.range(0, 6000).withColumnRenamed("id", "doc_id")
    c2 = {r["doc_id"]: r["split"] for r in hash_split(bigger, "doc_id").collect()}
    assert all(c2[k] == v for k, v in a.items())


def test_simhash_pairs_finds_near_dups_and_verifies_hamming(spark):
    """Band-bucketed SimHash pairing: identical docs pair at hamming 0,
    slightly-edited docs at small distance; unrelated docs don't pair.
    max_hamming > n_bands-1 is rejected (pigeonhole completeness)."""
    import pytest

    from omics_data_integration_utilities_spark.operators.dedup import simhash_pairs

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        (1, base),
        (2, base),  # identical -> hamming 0
        (3, base.replace("lazy", "sleepy")),  # near-dup -> small distance
        (4, " ".join(f"zz{i}" for i in range(60))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df, "text", "doc_id").collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] <= 3
    assert not any(4 in p for p in got)

    with pytest.raises(AssertionError):
        simhash_pairs(df, "text", "doc_id", max_hamming=5, n_bands=4)


def test_repetition_rules_flags_repeated_doc_and_keeps_clean(spark):
    """A doc dominated by one repeated bigram must fail the top-2-gram
    rule; a diverse doc passes everything; a 1-token doc gets all-zero
    fractions (and keep=True) rather than nulls."""
    from omics_data_integration_utilities_spark.operators.text import (
        repetition_rules,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 20 + "tail"),          # top 2-gram covers ~half
            (2, " ".join(f"word{i:02d}" for i in range(40))),  # all-distinct
            (3, "solo"),                              # shorter than every n
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_rules(docs, "text", "doc_id").collect()}
    assert rows[1]["top_2gram_frac"] > 0.20 and not rows[1]["ok_top_2gram"]
    assert not rows[1]["keep"]
    assert rows[2]["keep"] and rows[2]["top_2gram_frac"] <= 0.20
    assert rows[3]["keep"] and rows[3]["top_2gram_frac"] == 0.0
    assert rows[3]["dup_5gram_frac"] == 0.0


def test_ngram_decontaminate_flags_only_overlapping_train_docs(spark):
    from omics_data_integration_utilities_spark.operators.text import (
        ngram_decontaminate,
    )

    from .conftest import broadcasts_off

    test = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "prefix the quick brown fox suffix"),  # shares 2 distinct 3-grams
            (2, "totally unrelated training text here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shared_ngrams"], r["contaminated"])
        for r in ngram_decontaminate(train, test, "text", "doc_id", n=3).collect()
    }
    assert got[1] == (2, True)   # 'the quick brown', 'quick brown fox'
    assert got[2] == (0, False)
    assert set(got) == {1, 2}    # test docs never appear in the output

    # past the broadcast threshold (broadcasts switched off) the gram
    # set is joined without a broadcast; the answer must be identical
    with broadcasts_off(spark):
        past_cap = {
            r["doc_id"]: (r["n_shared_ngrams"], r["contaminated"])
            for r in ngram_decontaminate(train, test, "text", "doc_id", n=3).collect()
        }
    assert past_cap == got


def test_chunk_documents_covers_every_token_with_overlap(spark):
    from omics_data_integration_utilities_spark.operators.text import (
        chunk_documents,
    )

    toks = [f"t{i}" for i in range(50)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "short doc")], "doc_id long, text string"
    )
    out = chunk_documents(docs, "text", "doc_id", chunk_tokens=32, stride=24)
    rows = sorted(
        [r.asDict() for r in out.collect()], key=lambda r: (r["doc_id"], r["chunk_id"])
    )
    d1 = [r for r in rows if r["doc_id"] == 1]
    # ceil(50/24) = 3 chunks at starts 0, 24, 48
    assert [r["start_token"] for r in d1] == [0, 24, 48]
    assert [r["n_chunk_tokens"] for r in d1] == [32, 26, 2]
    # every token covered, consecutive chunks overlap by chunk-stride
    covered = set()
    for r in d1:
        covered |= set(r["chunk_text"].split(" "))
    assert covered == set(toks)
    assert d1[0]["chunk_text"].split(" ")[24:] == d1[1]["chunk_text"].split(" ")[:8]
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_text"] == "short doc"


def test_duplicated_ngram_spans_counts_shared_and_self_repeats(spark):
    """Doc 1 and 2 share an 8-token run (each contributes 1 dup window);
    doc 3 repeats its own 8-token run (self-repeat counts, as in Lee et
    al.); doc 4 is unique; doc 5 is shorter than k and must appear with
    zeros."""
    from omics_data_integration_utilities_spark.operators.text import (
        duplicated_ngram_spans,
    )

    shared = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),
            (2, "head1 head2 " + shared),
            (3, " ".join(f"r{i % 8}" for i in range(16))),  # period-8 self-repeat
            (4, " ".join(f"u{i}" for i in range(12))),
            (5, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
        for r in duplicated_ngram_spans(docs, "text", "doc_id", k=8).collect()
    }
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (3, 1, round(1 / 3, 6))
    # 16 tokens, period 8: the two phase-aligned windows (positions 0 and
    # 8) coincide; the 7 intermediate rotations are each unique
    assert got[3] == (9, 2, round(2 / 9, 6))
    assert got[4] == (5, 0, 0.0)
    assert got[5] == (0, 0, 0.0)
    assert set(got) == {1, 2, 3, 4, 5}


def test_bm25_top_terms_ranks_rare_terms_over_common(spark):
    """A term appearing in every doc gets ~zero idf; a doc-unique term
    outranks it despite equal tf.  Ranks are 1..k, deterministic."""
    from omics_data_integration_utilities_spark.operators.text import bm25_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common filler1 filler2"),
            (2, "common rare2 filler3 filler4 filler5"),
            (3, "common filler6 filler7 filler8 filler9"),
        ],
        "doc_id long, text string",
    )
    out = bm25_top_terms(docs, "text", "doc_id", top_k=3)
    rows = sorted([r.asDict() for r in out.collect()], key=lambda r: (r["doc_id"], r["rank"]))
    d1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["rank"] for r in d1] == [1, 2, 3]
    assert d1[0]["term"] in {"rare1", "filler1", "filler2"}  # df=1 terms first
    assert d1[0]["df"] == 1
    # 'common' (df=3 of 3 docs) must not make doc 3's top list above df-1 terms
    d3_terms = [r["term"] for r in rows if r["doc_id"] == 3]
    assert "common" not in d3_terms
    # every score positive (the +1-smoothed idf guarantees it)
    assert all(r["bm25"] > 0 for r in rows)


def test_unigram_perplexity_repetitive_doc_scores_lower(spark):
    """A doc of corpus-frequent tokens has lower perplexity than one of
    corpus-rare tokens; perplexity == exp(cross_entropy)."""
    import math

    from omics_data_integration_utilities_spark.operators.text import (
        unigram_perplexity,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(["the"] * 20)),
            (2, " ".join(f"rare{i}" for i in range(20))),
            (3, "the the the mid mid " + " ".join(f"x{i}" for i in range(5))),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_perplexity(docs, "text", "doc_id").collect()}
    assert got[1]["perplexity"] < got[3]["perplexity"] < got[2]["perplexity"]
    for r in got.values():
        assert r["n_tokens"] > 0
        assert abs(r["perplexity"] - round(math.exp(r["cross_entropy"]), 6)) < 1e-4


def test_pack_and_chunk_invariants(spark):
    """Sequence packing: offsets are contiguous per shard (each document
    starts where the previous ended), chunk ids are the floor-divisions
    of the offsets, and assignments are invariant to input partitioning
    (hash shard + id order, nothing physical)."""
    from omics_data_integration_utilities_spark.operators.sampling import pack_and_chunk

    docs = [(i, f"word " * ((i * 13) % 50 + 1)) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from pyspark.sql import functions as F

    counted = df.select("doc_id", F.size(F.split("text", " ")).alias("n"))
    out = pack_and_chunk(counted, "doc_id", "n", budget=64, n_shards=3)
    rows = sorted(
        (r["shard"], r["doc_id"], r["token_count"], r["tok_offset"],
         r["chunk_first"], r["chunk_last"])
        for r in out.collect()
    )
    # contiguity per shard + chunk arithmetic
    next_off: dict = {}
    for shard, _doc, n, off, cf, cl in rows:
        assert off == next_off.get(shard, 0)
        next_off[shard] = off + n
        assert cf == off // 64
        assert cl == max((off + n - 1) // 64, cf)
    # every shard stream is fully covered: total tokens = sum of lengths
    # partitioning invariance
    out2 = pack_and_chunk(
        counted.repartition(7), "doc_id", "n", budget=64, n_shards=3
    )
    rows2 = sorted(
        (r["shard"], r["doc_id"], r["token_count"], r["tok_offset"],
         r["chunk_first"], r["chunk_last"])
        for r in out2.collect()
    )
    assert rows == rows2


def test_connected_components_long_path_convergence(spark):
    """A 300-node path graph has diameter far beyond the 6-round unroll's
    ~2^6 reach, forcing the checked-convergence rounds — the fallback no
    other test exercises.  All nodes must land in component 0 with
    exactly one canonical row, and no non-convergence warning fires."""
    import warnings

    from omics_data_integration_utilities_spark.operators.dedup import (
        connected_components,
    )

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rows = connected_components(pairs).collect()
    comp = {r["id"]: r["component"] for r in rows}
    assert len(comp) == n
    assert set(comp.values()) == {0}
    assert sum(1 for r in rows if r["is_canonical"]) == 1


def test_connected_components_warns_when_rounds_exhausted(spark):
    """Starving the checked rounds must WARN about split components, not
    silently return a wrong partition."""
    import warnings

    from omics_data_integration_utilities_spark.operators.dedup import (
        connected_components,
    )

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(pairs, max_iterations=3).collect()
    assert any("converge" in str(w.message).lower() for w in caught)


import pytest as _pytest


@_pytest.mark.slow
def test_simhash_pairs_pigeonhole_complete_at_sf001(spark):
    """The band-bucketed candidate generation claims completeness for
    hamming <= bands-1; verify brute-force over ALL document pairs at
    sf0.01 — the emitted pair set must equal the exhaustive
    hamming-<=3 set exactly (no recall loss, no phantom pairs)."""
    import itertools

    from omics_data_integration_utilities_spark.operators.constants import SIMHASH_BITS
    from omics_data_integration_utilities_spark.operators.dedup import (
        simhash_pairs,
        simhash_table,
    )
    from .conftest import SF_CORRECTNESS

    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet")
    fp = {r["doc_id"]: r["simhash"] for r in simhash_table(docs, "text", "doc_id").collect()}
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    mask = (1 << SIMHASH_BITS) - 1
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(fp), 2)
        if bin((fp[a] ^ fp[b]) & mask).count("1") <= 3
    }
    assert got == want and len(want) > 0


def test_substring_spans_merge_positions_and_short_docs(spark):
    """Closed-form ExactSubstr check: a shared 8-gram is recovered as a
    positional span in BOTH docs, an exact-duplicate doc spans end to
    end, and docs shorter than the width yield no grams (the Spark
    sequence(1, n<1) counts DOWN, so the guard matters)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        duplicated_substring_spans,
        substring_dedup_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y z"),        # 11 tokens; dup of 4
            (2, "q q a b c d e f g h p p"),       # shared run at pos 3-10
            (3, "m n o p q r s t u v"),           # unique
            (4, "a b c d e f g h x y z"),         # exact duplicate of 1
            (5, "s h o r t"),                     # below width
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_substring_spans(docs, "text", "doc_id", width=8).collect()
    }
    assert spans == {1: (1, 11, 11), 2: (3, 10, 8), 4: (1, 11, 11)}

    stats = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in substring_dedup_stats(docs, "text", "doc_id", width=8).collect()
    }
    assert stats == {1: (11, 11), 2: (12, 8), 3: (10, 0), 4: (11, 11), 5: (5, 0)}


def test_substring_remove_keeps_corpus_first_occurrence(spark):
    """The dedup action: doc 1 (corpus-first by (id, pos)) keeps its
    text, the later copies are cut — the exact duplicate to '' — and
    within-doc self-repetition keeps only the first repeat."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{run} x y z"),
            (2, f"q q {run} p p"),
            (3, f"{run} x y z"),
            (4, f"w {run} u {run} v"),  # self-repeat: second copy cut
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(docs, "text", "doc_id", width=8).collect()
    }
    assert out[1] == f"{run} x y z"      # keeper untouched
    assert out[3] == ""                  # exact duplicate emptied
    assert out[2] == "q q p p"           # shared run cut, frame kept
    assert out[4] == f"w u v"            # both in-doc copies are non-first


def _ref_substring_spans(docs, width, min_count=2):
    """Independent pure-Python ExactSubstr reference: dict-of-Counter gram
    census + linear island merge — none of the operator's join/window
    machinery."""
    from collections import Counter

    cnt = Counter()
    per_doc = {}
    for did, text in docs:
        toks = text.split(" ")
        grams = (
            [" ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)]
            if len(toks) >= width
            else []
        )
        per_doc[did] = grams
        cnt.update(grams)
    out = set()
    for did, grams in per_doc.items():
        starts = [i + 1 for i, g in enumerate(grams) if cnt[g] >= min_count]
        run = []
        for p in starts:
            if run and p > run[-1] + width:
                out.add((did, run[0], run[-1] + width - 1))
                run = []
            run.append(p)
        if run:
            out.add((did, run[0], run[-1] + width - 1))
    return out


def _ref_remove_spans(docs, width, min_count=2):
    """Reference for the cut action: corpus-first keeper by (id, pos)."""
    from collections import Counter

    cnt = Counter()
    per_doc = {}
    keeper = {}
    for did, text in sorted(docs):
        toks = text.split(" ")
        grams = (
            [" ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)]
            if len(toks) >= width
            else []
        )
        per_doc[did] = (toks, grams)
        cnt.update(grams)
        for i, g in enumerate(grams):
            keeper.setdefault(g, (did, i + 1))
    out = {}
    for did, (toks, grams) in per_doc.items():
        starts = [
            i + 1
            for i, g in enumerate(grams)
            if cnt[g] >= min_count and keeper[g] != (did, i + 1)
        ]
        cut = set()
        run = []
        for p in starts + [None]:
            if run and (p is None or p > run[-1] + width):
                cut.update(range(run[0], run[-1] + width))
                run = []
            if p is not None:
                run.append(p)
        out[did] = " ".join(t for i, t in enumerate(toks, start=1) if i not in cut)
    return out


def test_substring_dedup_differential_random_corpora(spark):
    """Differential sweep: 30 seeded random small-vocab corpora (the
    regime where width-3 grams collide constantly — adjacent, nested and
    overlapping duplicate runs) vs the independent reference, all
    corpora in ONE Spark job via per-corpus token namespacing (tokens
    tagged c{k}_ so grams never collide across corpora)."""
    import random

    from omics_data_integration_utilities_spark.operators.dedup import (
        duplicated_substring_spans,
        remove_duplicated_spans,
    )

    rng = random.Random(42)
    vocab = list("abcde")
    width = 3
    corpora = {}
    rows = []
    for k in range(30):
        docs = []
        for d in range(8):
            n = rng.randint(1, 25)
            toks = [rng.choice(vocab) for _ in range(n)]
            docs.append((d, " ".join(toks)))
        corpora[k] = docs
        for d, text in docs:
            tagged = " ".join(f"c{k}_{t}" for t in text.split(" "))
            rows.append((k * 1000 + d, tagged))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got_spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_substring_spans(df, "text", "doc_id", width=width).collect()
    }
    want_spans = set()
    for k, docs in corpora.items():
        for did, s, e in _ref_substring_spans(docs, width):
            want_spans.add((k * 1000 + did, s, e))
    assert got_spans == want_spans

    got_rm = {
        r["doc_id"]: " ".join(t.split("_", 1)[1] for t in r["text"].split(" ") if t)
        for r in remove_duplicated_spans(df, "text", "doc_id", width=width).collect()
    }
    want_rm = {}
    for k, docs in corpora.items():
        # reference keeper order must match the tagged corpus' global
        # (doc_id, pos) order, which sorts by the NAMESPACED ids — within
        # one corpus that is the local id order, so plain ids are fine
        for did, txt in _ref_remove_spans(docs, width).items():
            want_rm[k * 1000 + did] = txt
    assert got_rm == want_rm


def test_incremental_dedup_all_five_verdicts(spark):
    """Synthetic ref/batch corpus exercising every verdict with a known
    answer: exact_ref (verbatim copy of a ref doc), near_ref (one token
    changed from a ref doc — shares band keys), exact_batch (identical
    pair inside the batch, min id keeps), near_batch (in-batch near pair,
    larger id drops), novel (disjoint vocabulary)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        incremental_dedup_verdicts,
    )

    # periodic texts: "x y x y x" and "x y x y x y x" have IDENTICAL
    # distinct-shingle sets ({x y x, y x y} at width 3) but different
    # strings, so the minhash signatures — hence every band key — are
    # equal by construction and the near_* verdicts fire
    # deterministically (a one-token edit only collides with LSH
    # probability < 1 and would make this test flaky-by-design)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "echo foxtrot echo foxtrot echo")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),                                    # exact_ref
            (11, "echo foxtrot echo foxtrot echo foxtrot echo"),  # near_ref
            (12, "one two three four five six seven"),     # exact_batch pair
            (13, "one two three four five six seven"),     #   keeper = 12
            (14, "red green red green red"),
            (15, "red green red green red green red"),     # near_batch of 14
            (16, "totally disjoint vocabulary nothing shared anywhere"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["verdict"], r["keep"])
        for r in incremental_dedup_verdicts(batch, ref, "text", "doc_id").collect()
    }
    assert got[10] == ("exact_ref", False)
    assert got[11] == ("near_ref", False)
    assert got[12] == ("novel", True)          # min-id keeper of the exact pair
    assert got[13] == ("exact_batch", False)
    assert got[14] == ("novel", True)
    assert got[15] == ("near_batch", False)
    assert got[16] == ("novel", True)


def test_incremental_dedup_ref_hot_bucket_ignored(spark):
    """A reference band bucket past max_posting has lost its locality
    signal and must NOT mark batch docs near_ref (the same rule
    lsh_candidate_pairs applies in-batch)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        incremental_dedup_verdicts,
    )

    txt = "alpha beta alpha beta alpha"
    ref = spark.createDataFrame(
        [(i, txt) for i in range(6)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(100, txt)], "doc_id long, text string")
    capped = incremental_dedup_verdicts(
        batch, ref, "text", "doc_id", max_posting=4
    ).collect()
    # exact_ref still fires (digest match is cap-independent); with a
    # CHANGED doc the near path is the one the cap gates
    assert capped[0]["verdict"] == "exact_ref"
    # same distinct-shingle set as txt (periodic extension), different
    # string — band keys equal deterministically, digest not
    near = spark.createDataFrame(
        [(100, txt + " beta alpha")], "doc_id long, text string"
    )
    v_capped = incremental_dedup_verdicts(
        near, ref, "text", "doc_id", max_posting=4
    ).collect()[0]
    v_open = incremental_dedup_verdicts(
        near, ref, "text", "doc_id", max_posting=100
    ).collect()[0]
    assert v_capped["verdict"] == "novel"
    assert v_open["verdict"] == "near_ref"


def test_incremental_dedup_short_docs_never_near(spark):
    """Docs with fewer than SHINGLE_WIDTH tokens have an EMPTY shingle
    set — every such doc would hash to the same md5('') band keys, so
    without the no-signal rule any short novel doc would be glued to any
    short reference doc.  Short docs must participate in the EXACT
    stages only (review finding, r10)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        incremental_dedup_verdicts,
        ref_dedup_verdicts_wide,
    )

    ref = spark.createDataFrame(
        [(1, "foo bar"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "baz qux"),    # short + zero shared vocab: NOVEL
            (11, "foo bar"),    # short but identical to ref: exact_ref
            (12, "one two"),    # short in-batch identical pair:
            (13, "one two"),    #   12 keeps, 13 exact_batch
            (14, "red green"),  # short, distinct from 12/13: novel
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_verdicts(batch, ref, "text", "doc_id").collect()
    }
    assert got == {
        10: "novel",
        11: "exact_ref",
        12: "novel",
        13: "exact_batch",
        14: "novel",
    }
    wide = {
        r["doc_id"]: r["verdict"]
        for r in ref_dedup_verdicts_wide(batch, ref, "text", "doc_id").collect()
    }
    assert wide == {
        10: "novel",
        11: "exact_ref",
        12: "novel",
        13: "novel",
        14: "novel",
    }


def _five_verdict_fixture(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "echo foxtrot echo foxtrot echo")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),
            (11, "echo foxtrot echo foxtrot echo foxtrot echo"),
            (12, "one two three four five six seven"),
            (13, "one two three four five six seven"),
            (14, "red green red green red"),
            (15, "red green red green red green red"),
            (16, "totally disjoint vocabulary nothing shared anywhere"),
            (17, "so"),  # short: exact stages only
        ],
        "doc_id long, text string",
    )
    return ref, batch


def test_dedup_index_probe_matches_scan_form(spark, tmp_path):
    """The persisted-index probe must be verdict-for-verdict identical
    to the reference-scan form — on the all-five-verdicts fixture AND on
    a real corpus split (sf0.001 documents, odd ids as the reference,
    even ids as the batch)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts,
        incremental_dedup_verdicts_indexed,
    )
    from .conftest import SF_SMOKE

    ref, batch = _five_verdict_fixture(spark)
    idx = build_dedup_index(ref, "text", "doc_id", "idx_parity", str(tmp_path))
    scan = {
        (r["doc_id"], r["verdict"], r["keep"])
        for r in incremental_dedup_verdicts(batch, ref, "text", "doc_id").collect()
    }
    probed = {
        (r["doc_id"], r["verdict"], r["keep"])
        for r in incremental_dedup_verdicts_indexed(
            batch, idx, "text", "doc_id"
        ).collect()
    }
    assert probed == scan and len(scan) == 8

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dref = docs.where("doc_id % 2 = 1")
    dbatch = docs.where("doc_id % 2 = 0")
    didx = build_dedup_index(dref, "text", "doc_id", "idx_docs", str(tmp_path))
    dscan = {
        (r["doc_id"], r["verdict"])
        for r in incremental_dedup_verdicts(dbatch, dref, "text", "doc_id").collect()
    }
    dprobed = {
        (r["doc_id"], r["verdict"])
        for r in incremental_dedup_verdicts_indexed(
            dbatch, didx, "text", "doc_id"
        ).collect()
    }
    assert dprobed == dscan and len(dscan) > 0


def test_dedup_index_cap_applies_at_probe_time(spark, tmp_path):
    """ref_count is stored UNFILTERED, so one index must serve any
    max_posting: a 6-member reference bucket is ignored at cap 4
    (novel) but matched at cap 100 (near_ref) from the SAME index."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts_indexed,
    )

    txt = "alpha beta alpha beta alpha"
    ref = spark.createDataFrame(
        [(i, txt) for i in range(6)], "doc_id long, text string"
    )
    idx = build_dedup_index(ref, "text", "doc_id", "idx_cap", str(tmp_path))
    near = spark.createDataFrame(
        [(100, txt + " beta alpha")], "doc_id long, text string"
    )
    v_capped = incremental_dedup_verdicts_indexed(
        near, idx, "text", "doc_id", max_posting=4
    ).collect()[0]
    v_open = incremental_dedup_verdicts_indexed(
        near, idx, "text", "doc_id", max_posting=100
    ).collect()[0]
    assert v_capped["verdict"] == "novel"
    assert v_open["verdict"] == "near_ref"


def test_dedup_index_bucketed_scan_avoids_ref_exchange(spark, tmp_path):
    """The point of the index: the probe's physical plan reads both
    tables through their bucket layout (no Exchange above the reference
    scans — only the batch side shuffles)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts_indexed,
    )

    ref, batch = _five_verdict_fixture(spark)
    idx = build_dedup_index(ref, "text", "doc_id", "idx_plan", str(tmp_path))
    out = incremental_dedup_verdicts_indexed(batch, idx, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan


def test_attach_dedup_index_reregisters_bucket_spec(spark, tmp_path):
    """Dropping the catalog entries (what a fresh session looks like)
    and re-attaching via DDL must restore identical probe results AND
    the bucketed read."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        attach_dedup_index,
        build_dedup_index,
        incremental_dedup_verdicts_indexed,
    )

    ref, batch = _five_verdict_fixture(spark)
    built = build_dedup_index(ref, "text", "doc_id", "idx_att", str(tmp_path))
    want = {
        (r["doc_id"], r["verdict"])
        for r in incremental_dedup_verdicts_indexed(
            batch, built, "text", "doc_id"
        ).collect()
    }
    spark.sql(f"DROP TABLE {built.digests_table}")
    spark.sql(f"DROP TABLE {built.bands_table}")
    idx = attach_dedup_index(spark, "idx_att", str(tmp_path))
    out = incremental_dedup_verdicts_indexed(batch, idx, "text", "doc_id")
    got = {(r["doc_id"], r["verdict"]) for r in out.collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan


def test_wide_form_index_matches_ref_df_form(spark, tmp_path):
    """ref_dedup_verdicts_wide is exactly the first two stages of
    incremental_dedup_verdicts (exact_ref/near_ref agree; every in-batch
    or novel verdict is wide 'novel'); its index= form equals the ref_df
    derivation, and exactly one source must be given."""
    import pytest

    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts,
        ref_dedup_verdicts_wide,
    )

    ref, batch = _five_verdict_fixture(spark)
    idx = build_dedup_index(ref, "text", "doc_id", "idx_wide", str(tmp_path))
    want = {
        (r["doc_id"], r["verdict"])
        for r in ref_dedup_verdicts_wide(batch, ref, "text", "doc_id").collect()
    }
    full = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_verdicts(batch, ref, "text", "doc_id").collect()
    }
    assert want == {
        (i, v if v in ("exact_ref", "near_ref") else "novel")
        for i, v in full.items()
    }
    assert {"exact_ref", "near_ref"} <= set(full.values())
    got = {
        (r["doc_id"], r["verdict"])
        for r in ref_dedup_verdicts_wide(
            batch, None, "text", "doc_id", index=idx
        ).collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        ref_dedup_verdicts_wide(batch, None, "text", "doc_id")
    with pytest.raises(ValueError):
        ref_dedup_verdicts_wide(batch, ref, "text", "doc_id", index=idx)


def test_mixture_quotas_apportionment():
    """Largest-remainder quotas: sum exactly to total, deterministic
    remainder tie-break (larger remainder first, then domain name)."""
    import pytest

    from omics_data_integration_utilities_spark.operators.sampling import (
        mixture_quotas,
    )

    q = mixture_quotas({"a": 8.0, "b": 4.0, "c": 2.0, "d": 1.0}, 60)
    assert q == {"a": 32, "b": 16, "c": 8, "d": 4}
    # 3 equal weights over 10: exact shares 3.333... — remainders tie,
    # name order decides who gets the extra
    q = mixture_quotas({"x": 1, "y": 1, "z": 1}, 10)
    assert q == {"x": 4, "y": 3, "z": 3} and sum(q.values()) == 10
    # fractional remainder ordering beats name order: b's .714 > a's .286
    q = mixture_quotas({"a": 1, "b": 6}, 2)  # shares 0.286 / 1.714
    assert q == {"a": 0, "b": 2}
    # equal remainders (.5/.5): name order gives 'a' the extra
    assert mixture_quotas({"a": 1, "b": 3}, 2) == {"a": 1, "b": 1}
    with pytest.raises(ValueError):
        mixture_quotas({"a": -1, "b": 2}, 5)
    with pytest.raises(ValueError):
        mixture_quotas({}, 5)


def test_mixture_sample_quotas_caps_and_determinism(spark):
    """mixture_sample fills each domain's quota exactly when available,
    caps at availability without redistribution, ignores unweighted
    domains, and is invariant under repartitioning."""
    from collections import Counter

    from omics_data_integration_utilities_spark.operators.sampling import (
        mixture_sample,
    )

    rows = [(i, "big") for i in range(50)]
    rows += [(100 + i, "small") for i in range(3)]
    rows += [(200 + i, "other") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # quotas: big 16, small 4 (only 3 available -> capped, no backfill)
    out = mixture_sample(df, "doc_id", "source", {"big": 4.0, "small": 1.0}, 20)
    got = Counter(r["source"] for r in out.collect())
    assert got == {"big": 16, "small": 3}

    a = {tuple(r) for r in out.collect()}
    b = {
        tuple(r)
        for r in mixture_sample(
            df.repartition(7, "doc_id"), "doc_id", "source",
            {"big": 4.0, "small": 1.0}, 20,
        ).collect()
    }
    assert a == b
    # a different salt re-draws the big-domain picks
    c = {
        tuple(r)
        for r in mixture_sample(
            df, "doc_id", "source", {"big": 4.0, "small": 1.0}, 20, salt="mix-v2"
        ).collect()
    }
    assert {s for _, s in c} == {"big", "small"} and c != a


def test_mixture_sample_stable_under_corpus_growth(spark):
    """Adding documents to one domain displaces at most (new picks) in
    THAT domain and never changes another domain's selection — the
    stability property RNG sampling lacks."""
    from omics_data_integration_utilities_spark.operators.sampling import (
        mixture_sample,
    )

    base = [(i, "a") for i in range(30)] + [(100 + i, "b") for i in range(30)]
    grown = base + [(50 + i, "a") for i in range(5)]
    w = {"a": 1.0, "b": 1.0}
    before = {tuple(r) for r in mixture_sample(
        spark.createDataFrame(base, "doc_id long, source string"),
        "doc_id", "source", w, 20).collect()}
    after = {tuple(r) for r in mixture_sample(
        spark.createDataFrame(grown, "doc_id long, source string"),
        "doc_id", "source", w, 20).collect()}
    assert {t for t in before if t[1] == "b"} == {t for t in after if t[1] == "b"}
    assert len([t for t in after if t[1] == "a"]) == 10


def test_extend_dedup_index_equals_rebuild(spark, tmp_path):
    """Folding a batch into an index (next generation) must probe
    identically to an index built from scratch over the union — and the
    same-name overwrite foot-gun is refused."""
    import pytest

    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
        incremental_dedup_verdicts_indexed,
    )
    from .conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ref1 = docs.where("doc_id % 3 = 0")
    ref2 = docs.where("doc_id % 3 = 1")
    batch = docs.where("doc_id % 3 = 2").select("doc_id", "text")

    g1 = build_dedup_index(ref1, "text", "doc_id", "gen1", str(tmp_path / "g1"))
    with pytest.raises(ValueError):
        extend_dedup_index(g1, ref2, "text", "doc_id", "gen1", str(tmp_path / "g1"))
    g2 = extend_dedup_index(g1, ref2, "text", "doc_id", "gen2", str(tmp_path / "g2"))
    fresh = build_dedup_index(
        ref1.unionByName(ref2), "text", "doc_id", "fresh", str(tmp_path / "f")
    )
    via_extend = {
        tuple(r)
        for r in incremental_dedup_verdicts_indexed(batch, g2, "text", "doc_id").collect()
    }
    via_fresh = {
        tuple(r)
        for r in incremental_dedup_verdicts_indexed(batch, fresh, "text", "doc_id").collect()
    }
    assert via_extend == via_fresh and len(via_extend) > 0
    # generation tables are distinct and both still attached
    assert spark.table(g1.digests_table).count() <= spark.table(g2.digests_table).count()


def test_attach_dedup_index_validates_meta_and_location(spark, tmp_path):
    """The r10 review hardening: attach reads the bucket count from the
    stored metadata (a wrong explicit count is refused, not trusted —
    declared != physical buckets silently mis-routes join keys), a wrong
    name is refused, and an already-registered same-name table at a
    DIFFERENT location is refused instead of silently probed."""
    import pytest

    from omics_data_integration_utilities_spark.operators.dedup import (
        attach_dedup_index,
        build_dedup_index,
    )

    ref, _ = _five_verdict_fixture(spark)
    built = build_dedup_index(
        ref, "text", "doc_id", "idx_val", str(tmp_path / "a"), n_buckets=8
    )
    spark.sql(f"DROP TABLE {built.digests_table}")
    spark.sql(f"DROP TABLE {built.bands_table}")
    # wrong explicit bucket count: refused
    with pytest.raises(ValueError, match="n_buckets"):
        attach_dedup_index(spark, "idx_val", str(tmp_path / "a"), n_buckets=64)
    # wrong name for this path's metadata: refused
    with pytest.raises(ValueError, match="names index"):
        attach_dedup_index(spark, "idx_other", str(tmp_path / "a"))
    # n_buckets comes from metadata when omitted
    idx = attach_dedup_index(spark, "idx_val", str(tmp_path / "a"))
    assert idx.n_buckets == 8
    # same-name table registered elsewhere: build a second index under a
    # different path but identical name — the catalog entry now points
    # at path b, so re-attaching path a must refuse
    spark.sql(f"DROP TABLE {idx.digests_table}")
    spark.sql(f"DROP TABLE {idx.bands_table}")
    build_dedup_index(ref, "text", "doc_id", "idx_val", str(tmp_path / "b"))
    with pytest.raises(ValueError, match="already"):
        attach_dedup_index(spark, "idx_val", str(tmp_path / "a"))


def test_build_dedup_index_refuses_to_drop_foreign_table(spark, tmp_path):
    """The r11 review hardening (ADVICE r10, medium): build/extend's
    drop-then-write must NOT delete a same-name table it does not own —
    a MANAGED table's DROP deletes its data files, so an unguarded
    ``DROP TABLE IF EXISTS <name>_digests`` could silently destroy an
    unrelated dataset that happens to collide on the derived name.  The
    guard mirrors attach_dedup_index's location check."""
    import pytest

    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    ref, batch = _five_verdict_fixture(spark)
    # squat an unrelated MANAGED table on the derived digests name
    spark.sql("DROP TABLE IF EXISTS idx_squat_digests")
    spark.createDataFrame([("precious",)], "payload string").write.saveAsTable(
        "idx_squat_digests"
    )
    try:
        with pytest.raises(ValueError, match="does not own"):
            build_dedup_index(
                ref, "text", "doc_id", "idx_squat", str(tmp_path / "a")
            )
        # the squatter's data survived the refused build
        assert spark.table("idx_squat_digests").collect()[0]["payload"] == "precious"
    finally:
        spark.sql("DROP TABLE IF EXISTS idx_squat_digests")
    # a clean build under a fresh name still works, and EXTEND hits the
    # same guard when its target generation name collides
    built = build_dedup_index(
        ref, "text", "doc_id", "idx_own", str(tmp_path / "b"), n_buckets=8
    )
    spark.sql("DROP TABLE IF EXISTS idx_squat2_bands")
    spark.createDataFrame([(1, "k", 2)], "band int, band_key string, ref_count long").write.saveAsTable(
        "idx_squat2_bands"
    )
    try:
        with pytest.raises(ValueError, match="does not own"):
            extend_dedup_index(
                built, batch, "text", "doc_id", "idx_squat2", str(tmp_path / "c")
            )
        assert spark.table("idx_squat2_bands").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS idx_squat2_bands")
        spark.sql(f"DROP TABLE IF EXISTS {built.digests_table}")
        spark.sql(f"DROP TABLE IF EXISTS {built.bands_table}")
    # rebuild over the SAME index's own registration is still allowed
    built2 = build_dedup_index(
        ref, "text", "doc_id", "idx_own2", str(tmp_path / "d"), n_buckets=8
    )
    rebuilt = build_dedup_index(
        ref, "text", "doc_id", "idx_own2", str(tmp_path / "d"), n_buckets=8
    )
    assert spark.table(rebuilt.digests_table).count() == spark.table(
        built2.digests_table
    ).count()
    spark.sql(f"DROP TABLE IF EXISTS {rebuilt.digests_table}")
    spark.sql(f"DROP TABLE IF EXISTS {rebuilt.bands_table}")


def test_normalize_table_location_scheme_aware():
    """ADVICE r10 (low): location comparison must be scheme-aware — a
    'file://'-with-authority URI or an object-store location must not be
    mangled by prefix-stripping + abspath (abspath would prepend the cwd
    to 's3://...')."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        _normalize_table_location as norm,
    )

    # local forms all agree
    assert norm("/x/y") == norm("file:/x/y") == norm("file:///x/y/")
    # object-store locations compare on (scheme, netloc, path) — never
    # through abspath
    assert norm("s3://bucket/idx/t") == norm("s3://bucket/idx/t/")
    assert norm("s3://bucket/idx/t") != norm("s3://other/idx/t")
    assert norm("hdfs://nn:8020/idx") == norm("hdfs://nn:8020/idx/")
    assert norm("s3://bucket/idx") != norm("/idx")


def test_gram_novelty_semantics(spark):
    """Hand-computed corpus-first novelty at width 8: the min-doc_id
    owner of a gram is the novel one; repeats score 0; short docs carry
    NULL (no signal, not zero novelty)."""
    from omics_data_integration_utilities_spark.operators.dedup import gram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),   # grams: a..h, b..i — both first
            (2, "a b c d e f g h i"),   # exact repeat — both seen
            (3, "x y"),                  # too short for one gram
            (4, "a b c d e f g h z"),    # a..h seen (doc 1), b..z novel
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in gram_novelty(df, "text", "doc_id", width=8).collect()
    }
    assert rows[1] == (2, 2, 1.0)
    assert rows[2] == (2, 0, 0.0)
    assert rows[3] == (0, 0, None)
    assert rows[4] == (2, 1, 0.5)


def test_gram_novelty_partitioning_invariant(spark):
    """Novelty is a pure function of (id, text) — repartitioning the
    input must not move any score (the min-id owner rule is global,
    not partition-local)."""
    from omics_data_integration_utilities_spark.operators.dedup import gram_novelty

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {tuple(r) for r in gram_novelty(docs, "text", "doc_id").collect()}
    b = {
        tuple(r)
        for r in gram_novelty(docs.repartition(7, "source"), "text", "doc_id").collect()
    }
    assert a == b and len(a) == docs.count()


def test_keep_best_per_component_semantics(spark):
    """Quality-aware canonicalization: highest score wins the component,
    ties break to the LOWEST id, singletons keep themselves."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        keep_best_per_component,
    )

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.5), (6, 0.5)],
        "doc_id long, quality double",
    )
    rows = {
        r["id"]: (r["component"], r["quality"], r["keep"])
        for r in keep_best_per_component(comps, scores).collect()
    }
    assert rows[2] == (1, 0.9, True)   # max quality...
    assert rows[3] == (1, 0.9, False)  # ...tie to lowest id
    assert rows[1] == (1, 0.2, False)
    assert rows[4] == (4, 0.1, True)   # singleton keeps itself
    assert rows[5] == (5, 0.5, True)   # tie to lowest id again
    assert rows[6] == (5, 0.5, False)
    assert sum(1 for _, _, k in rows.values() if k) == 3  # one per component


def test_keep_best_string_ids_and_missing_scores(spark):
    """r11-advice regressions: (a) string doc ids must tie-break
    deterministically to the LOWEST id (the old -id negation cast a
    string to double -> NULL -> nondeterministic winner and NULL keep);
    (b) a doc with no score row still appears (score NULL) and loses to
    any scored sibling; (c) an all-unscored component falls back to the
    min-id representative instead of vanishing."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        keep_best_per_component,
    )

    comps = spark.createDataFrame(
        [("d-b", 1), ("d-a", 1), ("d-c", 2), ("d-d", 2), ("d-x", 3), ("d-y", 3)],
        "id string, component long",
    )
    scores = spark.createDataFrame(
        [("d-b", 0.5), ("d-a", 0.5), ("d-d", 0.9)],  # d-c, d-x, d-y unscored
        "doc_id string, quality double",
    )
    rows = {
        r["id"]: (r["component"], r["quality"], r["keep"])
        for r in keep_best_per_component(comps, scores).collect()
    }
    assert len(rows) == 6                       # nothing silently dropped
    assert rows["d-a"] == (1, 0.5, True)        # string-id tie -> lowest id
    assert rows["d-b"] == (1, 0.5, False)
    assert rows["d-d"] == (2, 0.9, True)        # scored beats unscored
    assert rows["d-c"] == (2, None, False)
    assert rows["d-x"] == (3, None, True)       # all-unscored -> min id
    assert rows["d-y"] == (3, None, False)
    assert all(isinstance(k, bool) for _, _, k in rows.values())


def test_set_overlap_matrix_semantics(spark):
    """Hand-computed pairwise overlap: shared distinct keys, per-side
    totals, Jaccard; non-overlapping pairs emit no row; duplicate
    (group, key) rows collapse before counting."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        set_overlap_matrix,
        source_content_overlap,
    )

    df = spark.createDataFrame(
        [("a", "k1"), ("a", "k2"), ("a", "k2"),      # a = {k1, k2}
         ("b", "k2"), ("b", "k3"),                    # b = {k2, k3}
         ("c", "k9")],                                # c disjoint
        "src string, key string",
    )
    rows = {
        (r["src_a"], r["src_b"]): (r["n_a"], r["n_b"], r["n_shared"], r["jaccard"])
        for r in set_overlap_matrix(df, "src", "key").collect()
    }
    assert rows == {("a", "b"): (2, 2, 1, round(1 / 3, 6))}

    # content form: identical text across sources is one shared key
    docs = spark.createDataFrame(
        [(1, "x", "same text"), (2, "y", "same text"), (3, "y", "other")],
        "doc_id long, source string, text string",
    )
    got = {
        (r["src_a"], r["src_b"]): (r["n_a"], r["n_b"], r["n_shared"])
        for r in source_content_overlap(docs, "text", "source").collect()
    }
    assert got == {("x", "y"): (1, 2, 1)}


def test_index_probe_matches_scan_form(spark):
    """The bench-only steady-state probe (q_dedup_index_probe: build
    once + memoize, probe per call) must return EXACTLY the scan form's
    verdicts — same oracle semantics as dedup_incremental — and a second
    invocation must reuse the memoized index (probe-only), which is the
    whole point of benching it separately from the build."""
    from omics_data_integration_utilities_spark.plans import registry_docs as rd
    from .conftest import SF_SMOKE

    probe1 = {
        (r["doc_id"], r["verdict"], r["keep"])
        for r in rd.q_dedup_index_probe(spark, SF_SMOKE).collect()
    }
    scan = {
        (r["doc_id"], r["verdict"], r["keep"])
        for r in rd.q_dedup_incremental(spark, SF_SMOKE).collect()
    }
    assert probe1 == scan and len(scan) > 0
    n_indexes = len(rd._PROBE_IDX)
    probe2 = {
        (r["doc_id"], r["verdict"], r["keep"])
        for r in rd.q_dedup_index_probe(spark, SF_SMOKE).collect()
    }
    assert probe2 == probe1
    assert len(rd._PROBE_IDX) == n_indexes  # memo hit: no second build


def test_leakage_safe_split_pairs_never_straddle(spark):
    """The leakage property ITSELF: for every near-dup pair, both docs
    land in the same split (hash_split on raw ids provably violates
    this on the same corpus — asserted as the negative control)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from omics_data_integration_utilities_spark.operators.sampling import (
        hash_split,
        leakage_safe_split,
    )
    from .conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    split = {
        r["id"]: r["split"]
        for r in leakage_safe_split(docs, "text", "doc_id").collect()
    }
    assert set(split) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    pairs = [
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", min_jaccard=0.2
        ).collect()
    ]
    assert len(pairs) > 0  # vacuous-pass guard: the corpus has near-dups
    assert all(split[a] == split[b] for a, b in pairs)
    # negative control: the raw id-hash split DOES leak on this corpus
    raw = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.select("doc_id"), "doc_id").collect()
    }
    assert any(raw[a] != raw[b] for a, b in pairs)


def test_contamination_report_attribution_and_ties(spark):
    """Per-test attribution: worst offender by distinct shared grams,
    ties to lowest train id, clean test docs report zeros with NULL
    offender."""
    from omics_data_integration_utilities_spark.operators.text import (
        contamination_report,
    )

    from .conftest import broadcasts_off

    test = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon"),  # contaminated
            (200, "nothing here overlaps at all ever"),  # clean
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares 2 distinct 3-grams with 100
            (1, "x alpha beta gamma delta x"),
            # shares 3 distinct 3-grams with 100 -> the worst offender
            (2, "alpha beta gamma delta epsilon trailing"),
            # shares the same 3 as id 2 -> tie, higher id loses
            (3, "alpha beta gamma delta epsilon other"),
            (4, "completely unrelated training content here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["test_id"]: (r["n_train_docs"], r["worst_train_id"], r["worst_shared"])
        for r in contamination_report(train, test, "text", "doc_id", n=3).collect()
    }
    assert got[100] == (3, 2, 3)
    assert got[200] == (0, None, 0)
    # past the broadcast threshold (broadcasts switched off): identical
    with broadcasts_off(spark):
        past = {
            r["test_id"]: (r["n_train_docs"], r["worst_train_id"], r["worst_shared"])
            for r in contamination_report(train, test, "text", "doc_id", n=3).collect()
        }
    assert past == got
    # a test doc with a NULL id keeps its row and is attributed nothing,
    # even when it shares grams with the training side
    nulled = test.union(
        spark.createDataFrame([(None, "alpha beta gamma delta epsilon")], test.schema)
    )
    rows = contamination_report(train, nulled, "text", "doc_id", n=3).collect()
    assert sorted(
        ((r["test_id"] is None, r["n_train_docs"], r["worst_train_id"], r["worst_shared"])
         for r in rows),
        key=repr,
    ) == [(False, 0, None, 0), (False, 3, 2, 3), (True, 0, None, 0)]

    # generic id contract: STRING ids through the same argmax (negating
    # an id column would NULL non-numeric ids and corrupt attribution)
    s_test = test.selectExpr("concat('q', doc_id) AS doc_id", "text")
    s_train = train.selectExpr("concat('d', doc_id) AS doc_id", "text")
    s_got = {
        r["test_id"]: (r["n_train_docs"], r["worst_train_id"], r["worst_shared"])
        for r in contamination_report(
            s_train, s_test, "text", "doc_id", n=3
        ).collect()
    }
    assert s_got["q100"] == (3, "d2", 3)
    assert s_got["q200"] == (0, None, 0)
