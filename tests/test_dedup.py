"""Dedup operator unit tests: exact groups, shingles, MinHash/LSH recall,
Jaccard math, SimHash locality."""

from __future__ import annotations

import pytest

from opentimes_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_sets,
    simhash,
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "THE  quick   brown fox jumps over the lazy dog"),  # exact dup of 1 (normalized)
            (4, "completely different words entirely unrelated text here now"),
            (5, "ab"),  # shorter than shingle size
        ],
        "doc_id int, text string",
    )


def test_exact_dedup_groups(docs):
    out = {r["canonical_id"]: r["n_docs"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1 and 3 share a normalized fingerprint
    assert out[2] == 1 and out[4] == 1 and out[5] == 1


def test_shingles(docs):
    got = sorted(
        r["tok"]
        for r in shingle_sets(docs.filter("doc_id = 1"), "doc_id", "text", 3).collect()
    )
    assert "the quick brown" in got and "over the lazy" in got
    assert len(got) == 7  # 9 tokens → 7 trigrams


def test_short_doc_has_no_shingles(docs):
    assert (
        shingle_sets(docs.filter("doc_id = 5"), "doc_id", "text", 3).count() == 0
    )


def test_lsh_finds_neardups(docs):
    sigs = minhash_signatures(docs, num_hashes=8, shingle_size=3)
    cands = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 3) in pairs  # exact dups always collide
    assert (1, 2) in pairs  # near-dups share most shingles
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated


def test_jaccard_values(spark, docs):
    cands = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a int, id_b int")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, cands, shingle_size=3).collect()
    }
    assert got[(1, 3)] == 1.0  # identical shingle sets
    # docs 1,2: 7 trigrams each, only the final trigram differs → 6/8
    assert got[(1, 2)] == pytest.approx(6 / 8, abs=1e-6)
    assert (1, 4) not in got  # zero intersection drops out of the join


def test_simhash_locality(docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    # near-dups differ in few bits; unrelated docs in many
    assert ham(got[1], got[2]) < ham(got[1], got[4])
    assert got[1] == got[3]  # same token set → identical simhash


def test_minhash_xxhash_fast_path(spark, docs):
    """The xxhash64 variant: BIGINT signatures, same banding shape, and
    its exact-Jaccard-verified output is a subset of the true pair set
    the md5 twin verifies (verification is hash-independent)."""
    from opentimes_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, num_hashes=8, shingle_size=2, hash_fn="xxhash64")
    assert {k: v for k, v in sigs.dtypes if k != "doc_id"} == {
        f"h{i}": "bigint" for i in range(8)
    }
    cands = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2, hash_fn="xxhash64")
    rows = cands.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    verified = jaccard_pairs(docs, cands, min_jaccard=0.5, shingle_size=2)
    assert all(r["jaccard"] >= 0.5 for r in verified.collect())


def test_shingle_arrays_matches_shingle_sets(spark, docs):
    """The per-row shingle builder must produce exactly the set the
    explode+distinct builder produces (it's the building block for any
    future per-row signature experiments — see the measured note in
    minhash_signatures)."""
    from opentimes_spark.operators.dedup import shingle_arrays, shingle_sets

    exploded = {
        (r["doc_id"], r["tok"])
        for r in shingle_sets(docs, "doc_id", "text", 3).collect()
    }
    arrayed = {
        (r["doc_id"], g)
        for r in shingle_arrays(docs, "doc_id", "text", 3).collect()
        for g in r["grams"]
    }
    assert arrayed == exploded and len(arrayed) > 0


def test_hot_band_cap_bounds_fanout(spark):
    """Adversarial corpus: 1000 identical docs (one mega-band per band
    index) + a normal near-dup pair. Uncapped LSH would emit ~500k
    pairs for the clones; the cap degrades the mega-band to star pairs
    (clone_min, x) — 999 pairs — while sub-cap bands are untouched."""
    from opentimes_spark.operators.dedup import lsh_hot_bands

    clones = [(i, "license header boilerplate repeated verbatim text") for i in range(1000)]
    normal = [
        (2001, "the quick brown fox jumps over the lazy dog"),
        (2002, "the quick brown fox jumps over the lazy cat"),
    ]
    docs = spark.createDataFrame(clones + normal, "doc_id int, text string")
    sigs = minhash_signatures(docs, num_hashes=8, shingle_size=2)
    capped = lsh_candidate_pairs(
        sigs, num_hashes=8, band_size=2, max_band_size=64
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    clone_pairs = {p for p in pairs if p[0] < 2000 and p[1] < 2000}
    # star form: every clone connects to representative 0, nothing else
    assert clone_pairs == {(0, i) for i in range(1, 1000)}
    assert (2001, 2002) in pairs  # normal band unaffected
    # quarantine report names the mega-bands (4 band indexes, all hot)
    hot = lsh_hot_bands(sigs, threshold=64, num_hashes=8, band_size=2)
    rows = hot.collect()
    assert len(rows) == 4 and all(r["n_members"] == 1000 for r in rows)


def test_cap_noop_on_normal_corpus(spark, docs):
    """With no band over the cap, capped output == uncapped output."""
    sigs = minhash_signatures(docs, num_hashes=8, shingle_size=3)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, num_hashes=8, band_size=2).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, num_hashes=8, band_size=2, max_band_size=64
        ).collect()
    }
    assert capped == uncapped and len(uncapped) > 0


def test_incremental_exact_dedup_across_batches(spark):
    """Batch 1 seeds the ledger; batch 2 drops cross-batch and
    within-batch duplicates and extends the ledger only with fresh
    fingerprints."""
    from opentimes_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "hello world"), (2, "unique one"), (3, "Hello   WORLD")],
        "doc_id long, text string",
    )
    fresh1, ledger1 = incremental_exact_dedup(b1, None)
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}  # 3 dups 1 (normalized)
    assert ledger1.count() == 2

    b2 = spark.createDataFrame(
        [
            (10, "hello world"),    # dup of ledger fp
            (11, "brand new"),
            (12, "brand new"),      # within-batch dup
            (13, "another fresh"),
        ],
        "doc_id long, text string",
    )
    fresh2, ledger2 = incremental_exact_dedup(b2, ledger1)
    assert {r.doc_id for r in fresh2.collect()} == {11, 13}
    led = {r.fp: r.canonical_id for r in ledger2.collect()}
    assert len(led) == 4
    assert set(led.values()) == {1, 2, 11, 13}

    # idempotence: re-ingesting batch 2 adds nothing
    fresh3, ledger3 = incremental_exact_dedup(b2, ledger2)
    assert fresh3.count() == 0 and ledger3.count() == 4


def _brute_containment(rows, shingle_size, t):
    """Python reference: C(a->b) = |A∩B|/|A| >= t over distinct word
    n-gram shingle sets."""
    import re

    sets = {}
    for i, text in rows:
        toks = re.findall(r"\S+", text.lower())
        grams = {
            " ".join(toks[j : j + shingle_size])
            for j in range(len(toks) - shingle_size + 1)
        }
        if grams:
            sets[i] = grams
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and len(sa & sb) / len(sa) >= t:
                out.add((a, b))
    return out


def test_containment_prefix_matches_direct(spark, docs):
    from opentimes_spark.operators.dedup import containment_pairs_prefix

    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    got = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_prefix(docs, threshold=0.8).collect()
    }
    assert got == _brute_containment(rows, 3, 0.8)


def test_containment_prefix_survives_stop_shingle(spark):
    """A shingle shared by EVERY doc (df = n) must neither break
    correctness nor enter any prefix: pairs still match brute force."""
    from opentimes_spark.operators.dedup import containment_pairs_prefix

    stop = "lorem ipsum dolor"
    rows = [
        (i, f"{stop} unique{i} filler{i} tail{i} extra{i} pad{i}")
        for i in range(20)
    ] + [
        # true containment: doc 100's shingles all appear inside doc 101
        (100, "alpha beta gamma delta epsilon"),
        (101, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_prefix(df, threshold=0.8).collect()
    }
    want = _brute_containment(rows, 3, 0.8)
    assert (100, 101) in want and got == want


def test_containment_prefix_exact_boundary(spark):
    """C exactly == t must be FOUND: float ceil(0.8*5)=5 would shorten
    the prefix below the bound without the epsilon nudge."""
    from opentimes_spark.operators.dedup import containment_pairs_prefix

    # doc 1 has exactly 5 shingles (7 words), 4 of them inside doc 2.
    d1 = "a b c d e f g"
    d2 = "a b c d e f x zz yy ww vv"  # shares shingles abc bcd cde def (4 of 5)
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id int, text string"
    )
    rows = [(1, d1), (2, d2)]
    want = _brute_containment(rows, 3, 0.8)
    assert (1, 2) in want  # 4/5 = 0.8 exactly
    got = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_prefix(df, threshold=0.8).collect()
    }
    assert got == want


def test_lang_bigram_pairs_survives_short_docs(spark):
    """A <=1-token doc must emit no bigrams: the unguarded
    sequence(1, size-1) went DESCENDING there and t[1] aborted the job
    with INVALID_ARRAY_INDEX under ANSI mode (review finding, fixed by
    the shared guarded helper)."""
    from opentimes_spark.plans.queries import _lang_bigram_pairs

    d = spark.createDataFrame(
        [
            (1, "single", "en"),
            (2, "", "en"),
            (3, "the quick brown fox", "en"),
            (4, "the quick brown fox", "en"),
        ],
        "doc_id int, text string, lang string",
    )
    rows = _lang_bigram_pairs(d, 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(3, 4)}


def test_boilerplate_coverage_join_strategy_control(spark):
    """ADVICE r6: the template set must not be force-broadcast
    unconditionally — default lets AQE choose, True forces broadcast,
    False forces a shuffle join; all three produce identical rows."""
    import contextlib
    import io

    from opentimes_spark.operators.boilerplate import boilerplate_coverage

    docs = spark.createDataFrame(
        [(i, "common header text unique tail %d" % i) for i in range(40)],
        "doc_id long, text string",
    )

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    rows = {}
    for mode in (None, True, False):
        out = boilerplate_coverage(docs, n=3, min_df=5,
                                   broadcast_templates=mode)
        rows[mode] = sorted(map(tuple, out.collect()))
    assert rows[None] == rows[True] == rows[False] and len(rows[None]) == 40

    forced = plan_of(
        boilerplate_coverage(docs, n=3, min_df=5, broadcast_templates=True)
    )
    assert "BroadcastHashJoin" in forced
    shuffled = plan_of(
        boilerplate_coverage(docs, n=3, min_df=5, broadcast_templates=False)
    )
    assert "ShuffledHashJoin" in shuffled or "SortMergeJoin" in shuffled


def _write_documents(path: str, seed: int, n_dups: int) -> None:
    """A small documents table: 40 random texts over a 12-word vocabulary
    in two languages, plus ``n_dups`` near-duplicates (one word changed)
    of the first texts."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = "the fast slow spark join sort merge scan part key row table".split()
    texts = [" ".join(rng.choices(vocab, k=rng.randint(8, 20))) for _ in range(40)]
    texts += [t.rsplit(" ", 1)[0] + " window" for t in texts[:n_dups]]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
            "lang": [("en", "es")[i % 2] for i in range(len(texts))],
            "source": ["src0"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )


def test_threshold_sweep_sees_a_corpus_rewritten_at_the_same_path(spark, tmp_path):
    """The sweep's materialized intermediates must not outlive the call:
    a plan-matched cache would answer the second call, on a corpus
    rewritten at the same path, with the first corpus's counts."""
    import duckdb

    from opentimes_spark.plans.queries import ORACLE_SQL, QUERIES

    name = "docs_dedup_threshold_sweep"
    path = str(tmp_path / "documents.parquet")

    def spark_rows():
        return sorted(tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect())

    def oracle_rows():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return sorted((float(tau), *counts) for tau, *counts in con.execute(ORACLE_SQL[name]).fetchall())

    _write_documents(path, seed=1, n_dups=3)
    first = oracle_rows()
    assert spark_rows() == first
    _write_documents(path, seed=2, n_dups=6)
    second = oracle_rows()
    assert second != first
    assert spark_rows() == second
