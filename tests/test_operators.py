"""Operator unit tests with planted duplicates/neighbors — prove the
dedup and similarity operators actually find what they claim to find."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chapterhouseqe_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from chapterhouseqe_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from chapterhouseqe_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    lsh_bucket_candidates,
)
from chapterhouseqe_spark.sources.multimodal import (
    attach_binary_payload,
    decode_features,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away tonight"
OTHER = "completely different content about databases and distributed query engines"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, NEAR),  # near dup of 0/1
        (3, OTHER),
        (4, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert out[2] == 1 and out[3] == 1


def test_minhash_finds_planted_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7  # near dup
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_equals_exact_jaccard(docs):
    lsh = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    as_set = lambda df: {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}
    assert as_set(lsh) == as_set(exact)


def test_simhash_identical_docs_share_fingerprint(docs):
    fps = {r["doc_id"]: r["fingerprint"] for r in simhash_fingerprints(docs, "text", "doc_id").collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[3]
    assert all(fp >= 0 for fp in fps.values())  # 60-bit, sign-safe


def test_prefix_filter_is_lossless(docs, spark):
    # prefix filtering (SSJoin/All-Pairs) must return the EXACT
    # all-pairs answer — same pairs, same jaccard values — including
    # on a boilerplate-heavy corpus where prefixes drop most postings
    as_set = lambda df: {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}
    direct = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    prefixed = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5, prefix_filter=True)
    assert as_set(direct) == as_set(prefixed)

    from pyspark.sql import functions as F

    header = " ".join(f"boiler{i}" for i in range(30))
    boiler = (
        spark.range(40)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(header + " body"),
                (F.col("id") % 4).cast("string"),
                F.lit(" tail"),
                F.col("id").cast("string"),
            ).alias("text"),
        )
    )
    d2 = ngram_jaccard_pairs(boiler, "text", "doc_id", threshold=0.5, max_shingle_freq=None)
    p2 = ngram_jaccard_pairs(
        boiler, "text", "doc_id", threshold=0.5, max_shingle_freq=None, prefix_filter=True
    )
    assert as_set(d2) == as_set(p2) and d2.count() > 0


def test_ngram_jaccard_pair_budget_guard(docs):
    """r10 verdict item 3: the exactness boundary fails FAST. Σc_s²
    (the exact pairing-row count over the posting the chosen branch
    pairs on) is computed before pairing and raises with the
    remediations named, on BOTH branches; at-or-under budget and
    max_pair_rows=None run unchanged."""
    import pytest

    with pytest.raises(ValueError, match="max_shingle_freq"):
        ngram_jaccard_pairs(docs, "text", "doc_id", max_pair_rows=1)
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(
            docs, "text", "doc_id", max_pair_rows=1, prefix_filter=True
        )
    as_set = lambda df: {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    base = as_set(ngram_jaccard_pairs(docs, "text", "doc_id"))
    assert base == as_set(
        ngram_jaccard_pairs(docs, "text", "doc_id", max_pair_rows=None)
    )
    # a generous explicit budget admits the small corpus
    assert base == as_set(
        ngram_jaccard_pairs(docs, "text", "doc_id", max_pair_rows=10**6)
    )


def test_prefix_filter_auto_dispatch(spark):
    """prefix_filter='auto' keys on hot-shingle mass (r9 verdict item
    3): a diverse corpus dispatches to the direct path, a boilerplate
    corpus (most of the Σc_s² pairing cost in header shingles)
    dispatches to prefix — and both return the exact answer either
    way, so the dispatch can never change results, only plans."""
    from pyspark.sql import functions as F

    from chapterhouseqe_spark.operators.dedup import (
        hot_shingle_mass_ratio,
        with_shingles,
    )

    def ratio(df):
        sh = with_shingles(df, "text", "doc_id")
        posting = sh.select("id", F.explode("shingles").alias("s"))
        return hot_shingle_mass_ratio(posting, df.count())

    as_set = lambda df: {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    # diverse open-vocab corpus (df=1 for almost every shingle, one
    # planted dup pair at df=2 <= the cutoff): nothing hot -> direct
    diverse_rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(49)
    ]
    diverse_rows.append((49, diverse_rows[0][1]))  # exact-dup partner
    diverse = spark.createDataFrame(
        diverse_rows, "doc_id long, text string"
    )
    assert ratio(diverse) < 0.5
    auto = ngram_jaccard_pairs(
        diverse, "text", "doc_id", threshold=0.5, prefix_filter="auto"
    )
    exact = ngram_jaccard_pairs(diverse, "text", "doc_id", threshold=0.5)
    assert as_set(auto) == as_set(exact) and auto.count() > 0

    # boilerplate corpus: a shared 30-token header carries nearly all
    # of the quadratic pairing mass -> prefix
    header = " ".join(f"boiler{i}" for i in range(30))
    boiler = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(header + " body"),
            (F.col("id") % 4).cast("string"),
            F.lit(" tail"),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    assert ratio(boiler) >= 0.5
    auto2 = ngram_jaccard_pairs(
        boiler,
        "text",
        "doc_id",
        threshold=0.5,
        max_shingle_freq=None,
        prefix_filter="auto",
    )
    exact2 = ngram_jaccard_pairs(
        boiler, "text", "doc_id", threshold=0.5, max_shingle_freq=None
    )
    assert as_set(auto2) == as_set(exact2) and auto2.count() > 0


def test_prefix_filter_respects_stop_shingle_cap(docs):
    # hot-shingle capping composes with prefix selection: with an
    # aggressive cap only the exact-dup pair survives, same as direct
    capped = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.1, max_shingle_freq=1, prefix_filter=True
    )
    for r in capped.collect():
        assert (r["id_a"], r["id_b"]) == (0, 1)


def test_stop_shingle_cap(docs):
    # with an aggressive cap every shingle shared by >1 doc is dropped,
    # so only the exact-dup pair (via their unique shingles) remains
    capped = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.1, max_shingle_freq=1)
    for r in capped.collect():
        assert (r["id_a"], r["id_b"]) == (0, 1)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.2, 0.0]),  # near 2
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_finds_neighbors(vectors):
    out = cosine_topk(vectors, F.col("vec_id") == 0, k=1).collect()
    assert len(out) == 1 and out[0]["id_b"] == 1
    assert out[0]["sim"] > 0.9


def test_cosine_pairs_threshold(vectors):
    got = {(r["id_a"], r["id_b"]) for r in cosine_pairs(vectors, 0.9).collect()}
    assert got == {(0, 1), (2, 3)}


def test_zero_vector_gives_null_similarity(spark):
    """An all-zero embedding has no direction: every cosine scorer
    returns a NULL similarity for its pairs (as DuckDB's ``x / 0.0``
    does) instead of failing the whole query with DIVIDE_BY_ZERO under
    ANSI mode."""
    from chapterhouseqe_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 0.0], 1),  # zero vector
        (2, [0.6, 0.8], 1),
        (3, [0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    top = {
        (r["probe_id"], r["id_b"]): r["sim"]
        for r in cosine_topk(emb, F.col("vec_id") <= 1, k=3).collect()
    }
    assert top[(0, 1)] is None and top[(1, 0)] is None
    assert top[(0, 2)] == pytest.approx(0.6)
    pairs = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_pairs(emb, -1.0, force=True).collect()
    }
    # NULL fails the threshold, so zero-vector pairs drop out
    assert set(pairs) == {(0, 2), (0, 3), (2, 3)}
    neg = {
        (r["anchor_id"], r["id_b"]): r["sim"]
        for r in hard_negatives(emb, F.col("vec_id") == 0, k=2).collect()
    }
    assert neg[(0, 2)] == pytest.approx(0.6) and neg[(0, 1)] is None


def test_salted_topk_matches_single_window(spark, sf_dir, monkeypatch):
    """The salted two-stage top-k (taken above SALTED_TOPK_MIN_ROWS
    corpus rows) returns exactly the single window's rows for all three
    callers. The sf0.001 corpus sits below the threshold, so lowering
    it forces the salted tier."""
    from chapterhouseqe_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe = F.col("vec_id") < 6

    def run():
        frames = [
            sim.cosine_topk(emb, probe, k=4),
            sim.hard_negatives(emb, probe, k=3),
            sim.sq_topk(emb, probe, k=4),
        ]
        salted = ["pmod(" in df._jdf.queryExecution().optimizedPlan().toString()
                  for df in frames]
        return salted, [sorted(map(tuple, df.collect())) for df in frames]

    single_salted, single = run()
    monkeypatch.setattr(sim, "SALTED_TOPK_MIN_ROWS", 0)
    salted_salted, salted = run()
    assert single_salted == [False] * 3 and salted_salted == [True] * 3
    assert salted == single
    assert all(len(rows) == 6 * k for rows, k in zip(single, (4, 3, 4)))


def test_cosine_pairs_row_count_guard(vectors, monkeypatch):
    """r10 verdict item 4: the O(n²) baseline refuses frames above the
    documented bound unless force=True — failing in seconds beats a
    week-long crossJoin aimed at a real corpus by mistake."""
    import pytest

    from chapterhouseqe_spark.operators import similarity as sim

    # shrink the bound instead of building 50k rows
    monkeypatch.setattr(sim, "COSINE_PAIRS_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="verification BASELINE"):
        sim.cosine_pairs(vectors, 0.9)
    # force=True keeps the operator available as the audit baseline
    got = {
        (r["id_a"], r["id_b"])
        for r in sim.cosine_pairs(vectors, 0.9, force=True).collect()
    }
    assert got == {(0, 1), (2, 3)}
    # at-or-under the bound (the fixture has 5 vectors) runs unforced
    monkeypatch.setattr(sim, "COSINE_PAIRS_MAX_ROWS", 5)
    assert sim.cosine_pairs(vectors, 0.9).count() == 2


def test_lsh_buckets_recall_planted_pairs(vectors):
    cand = {(r["id_a"], r["id_b"]) for r in lsh_bucket_candidates(vectors, dim=4, n_planes=2).collect()}
    # near-identical vectors must share every hyperplane side
    assert (0, 1) in cand and (2, 3) in cand


def test_patch_grid_narrow_raster_guard(spark):
    """row_bytes < patch (r8 ADVICE): the grid must have exactly ONE
    ragged column — the unguarded form emitted a DESCENDING
    sequence(0, -1), i.e. spurious patch_col=-1 rows with negative
    substring offsets."""
    from chapterhouseqe_spark.sources.multimodal import (
        attach_binary_payload,
        patch_grid,
    )

    df = spark.createDataFrame([(1, "abcdefgh")], "doc_id long, text string")
    mm = attach_binary_payload(df).select("doc_id", "payload")
    rows = patch_grid(mm, row_bytes=4, patch=8).collect()
    assert rows, "narrow raster must still produce patches"
    assert all(r["patch_col"] == 0 for r in rows)
    assert all(r["patch_len"] >= 0 for r in rows)
    # all payload bytes are covered exactly once across the column
    assert sum(r["patch_len"] for r in rows) == 8


def test_multimodal_roundtrip(spark):
    df = spark.createDataFrame([(7, "AbcXyz")], "doc_id long, text string")
    mm = attach_binary_payload(df)
    row = mm.collect()[0]
    assert bytes(row["payload"]) == b"AbcXyz"
    assert row["meta"]["n_bytes"] == 6
    feats = decode_features(mm.select("doc_id", "payload")).collect()[0]
    assert feats["n_bytes"] == 6
    assert feats["first_byte"] == ord("A")
    assert feats["feature"] == [65.0, 98.0, 99.0, 88.0]


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "The cat is on the mat"), (2, "el perro es de la casa"), (3, "xyzzy")],
        "id long, text string",
    )
    out = df.select(
        "id",
        lang_id(F.col("text")).alias("lang"),
        token_count(F.col("text")).alias("n"),
        quality_score(F.col("text")).alias("q"),
        doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["lang"] == "en"
    assert by_id[2]["lang"] == "es"
    assert by_id[3]["lang"] == "und"
    assert by_id[1]["n"] == 6
    assert 0.0 <= by_id[3]["q"] <= by_id[1]["q"] <= 1.0
    # fingerprint is normalization-stable
    fp2 = df.filter("id=1").select(doc_fingerprint(F.lit("  THE CAT is on, the mat!! ")).alias("fp")).collect()[0]["fp"]
    assert fp2 == by_id[1]["fp"]

def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    # nprobe == n_centroids searches every bucket → must equal cosine_topk
    from chapterhouseqe_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = cosine_topk(emb, F.col("vec_id") < 4, k=3)
    ivf = ivf_topk(emb, F.col("vec_id") < 4, k=3, n_centroids=8, nprobe=8)
    as_set = lambda df: {(r["probe_id"], r["id_b"], r["sim"]) for r in df.collect()}
    assert as_set(ivf) == as_set(brute)


def test_ivf_partial_probe_shape(spark, sf_dir):
    from chapterhouseqe_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(emb, F.col("vec_id") < 4, k=3, n_centroids=8, nprobe=2)
    rows = out.collect()
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r["probe_id"], []).append(r["sim"])
    assert set(per_probe) == {0, 1, 2, 3}
    assert all(len(v) == 3 for v in per_probe.values())


def test_sample_frames_even_spacing(spark):
    from chapterhouseqe_spark.sources.multimodal import sample_frames

    text = "0123456789" * 5  # 50 bytes
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    mm = attach_binary_payload(df)
    frames = sample_frames(mm.select("doc_id", "payload"), n_frames=4, frame_size=16)
    rows = sorted(frames.collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_off"] for r in rows] == [0, 11, 22, 34]  # (50-16)*i//3
    assert rows[0]["frame"] == text[0:16]
    assert rows[3]["frame"] == text[34:50]


def test_minhash_band_bucket_cap(docs):
    # uncapped (None) equals capped-at-huge (and the 10k default); an
    # aggressive cap of 1 drops every bucket (all buckets for a dup pair
    # have ≥2 members)
    uncapped = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5, max_band_bucket=None)
    huge_cap = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5, max_band_bucket=1000)
    as_set = lambda df: {(r["id_a"], r["id_b"]) for r in df.collect()}
    assert as_set(uncapped) == as_set(huge_cap)
    tiny_cap = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5, max_band_bucket=1)
    assert tiny_cap.count() == 0


def test_minhash_kernel_verify_matches_broadcast_verify(docs, monkeypatch):
    # r13 optimization: past BROADCAST_VERIFY_MAX_DOCS the banded
    # candidates are verified by semi-joining them against the blocked
    # kernel's exact jaccard pair set instead of shuffle-hash-joining
    # the shingle arrays. Force that branch by shrinking the cap and
    # pin its output (pairs AND jaccard values) to the default
    # broadcast-verify path's.
    from chapterhouseqe_spark.operators import dedup as d

    base = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    as_set = lambda df: {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    expected = as_set(base)
    monkeypatch.setattr(d, "BROADCAST_VERIFY_MAX_DOCS", 1)
    assert as_set(
        minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    ) == expected
    # and the over-mass soft cap falls back to the shuffle-hash verify
    # (no raise, same answer)
    monkeypatch.setattr(d, "NGRAM_PAIR_ROW_BUDGET", 0)
    assert as_set(
        minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    ) == expected


def test_pairing_kernel_matches_inverted_index_join(docs, monkeypatch):
    # Both tiers of the exact-pairing dispatch — the blocked kernel and
    # the inverted-index join it falls back to — must return identical
    # rows (values included) for every caller, with and without a hot
    # cap that actually drops postings, and must fail fast with the
    # same message. Zeroing a kernel cap forces the join tier: the doc
    # cap declines before the kernel has evaluated the pair-mass guard,
    # the vocabulary cap after it.
    from chapterhouseqe_spark.operators import dedup as d

    rows = lambda df: sorted(tuple(r) for r in df.collect())

    def run_all():
        out = []
        for cap in (None, 2):
            out.append(rows(d.ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold=0.03, max_shingle_freq=cap
            )))
            out.append(rows(d.ngram_containment_dropped(
                docs, "text", "doc_id", threshold=0.03, max_shingle_freq=cap
            )))
            out.append(rows(d.winnow_overlap_pairs(
                docs, "text", "doc_id", k=3, w=2, min_shared=1,
                max_fp_freq=cap,
            )))
        return out

    def guard_messages():
        msgs = []
        for call in (
            lambda: d.ngram_jaccard_pairs(
                docs, "text", "doc_id", max_pair_rows=1
            ),
            lambda: d.winnow_overlap_pairs(
                docs, "text", "doc_id", k=3, w=2, max_pair_rows=1
            ),
        ):
            with pytest.raises(ValueError) as ei:
                call()
            msgs.append(str(ei.value))
        return msgs

    kernel, kernel_msgs = run_all(), guard_messages()
    assert all(kernel)  # every caller finds rows, capped or not
    for cap in ("NGRAM_KERNEL_MAX_DOCS", "NGRAM_KERNEL_MAX_VOCAB"):
        with monkeypatch.context() as m:
            m.setattr(d, cap, 0)
            assert run_all() == kernel
            assert guard_messages() == kernel_msgs


def test_simhash_batches_match_aggregate_formula(spark):
    # The mapInPandas fingerprints must equal the explode + per-bit-sum
    # aggregate they replaced, bit for bit: a null-text doc yields no
    # row on both paths, repeated and padded tokens count as the split
    # gives them, and one doc longer than the kernel's per-chunk hash
    # cap is scored in a chunk of its own.
    from chapterhouseqe_spark.operators.dedup import simhash_fingerprints

    bits, big_tokens = 60, 110_000
    assert big_tokens > (50 * 1024 * 1024) // (8 * bits)  # the chunk cap
    words = lambda n, m: F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), n),
        lambda x: F.concat(F.lit("w"), (x % m).cast("string")),
    ))
    listed = spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, None), (3, "a a a b"), (4, "  padded   doc  "),
         (5, None), (6, OTHER)],
        "doc_id long, text string",
    ).withColumn(
        "text",
        F.when(F.col("doc_id") == 5, words(F.lit(big_tokens), 5003))
        .otherwise(F.col("text")),
    )
    generated = spark.range(10, 50).select(
        F.col("id").alias("doc_id"), words(F.col("id"), 17).alias("text")
    )
    docs = listed.unionByName(generated)
    h = F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10).cast("long")
    tokens = F.explode(F.split(F.trim("text"), r"\s+")).alias("tk")
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
    per_bit = (
        docs.select("doc_id", tokens)
        .select("doc_id", h.alias("h"), bit)
        .groupBy("doc_id", "j")
        .agg(F.expr("sum(if(shiftright(h, j) & 1 = 1, 1, -1))").alias("w"))
    )
    formula = per_bit.groupBy("doc_id").agg(
        F.expr("sum(if(w > 0, shiftleft(1L, j), 0L))").alias("fingerprint")
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    expected = rows(formula)
    assert [r[0] for r in expected] == [0, 1, 3, 4, 5, 6] + list(range(10, 50))
    assert rows(simhash_fingerprints(docs, "text", "doc_id", bits=bits)) == expected


def test_near_dedup_keep_canonical(docs):
    from chapterhouseqe_spark.operators.dedup import near_dedup_keep

    kept = sorted(r["doc_id"] for r in near_dedup_keep(docs, "text", "doc_id", 0.5).collect())
    # docs 0/1/2 are one near-dup cluster (keep 0); 3 and 4 unique
    assert kept == [0, 3, 4]


def test_connected_components_chain(spark):
    from chapterhouseqe_spark.operators.dedup import connected_components

    # chain 1-2, 2-3, 5-6: components {1,2,3}→1, {5,6}→5, {9}→9
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], "id long")
    comp = {r["id"]: r["component"] for r in connected_components(pairs, ids).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_long_chain_checkpointed(spark):
    """A 12-node chain needs ~12 label-propagation rounds — exercises the
    per-round persist + periodic localCheckpoint path several times over
    and pins that lineage stays truncated (bounded plan depth)."""
    from chapterhouseqe_spark.operators.dedup import connected_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    labels = connected_components(pairs, ids)
    comp = {r["id"]: r["component"] for r in labels.collect()}
    assert comp == {i: 0 for i in range(n)}
    # lineage is truncated at the last localCheckpoint (every 3 rounds),
    # so the analyzed plan is a few rounds deep at most — without the
    # checkpoint it would be ~12 rounds of join+agg nesting.
    plan_len = len(labels._jdf.queryExecution().toString())
    assert plan_len < 20_000, f"plan depth not bounded: {plan_len} chars"


def test_small_graph_kernels_match_distributed_loops(spark, monkeypatch):
    # r13 optimization: under SMALL_GRAPH_MAX_EDGES the iterative graph
    # operators run an exact numpy replica of their integer recurrences.
    # Force the distributed loops by zeroing the cap and pin that both
    # paths produce identical rows (values included) for CC, k-core,
    # pagerank and the bitset triangle count on graphs with chains,
    # cliques, and isolated nodes.
    from chapterhouseqe_spark.operators import graph as g
    from chapterhouseqe_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (5, 7), (6, 7), (6, 8), (5, 8), (7, 8)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 6, 7, 8, 11)], "id long"
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    run = lambda: (
        rows(connected_components(pairs, ids)),
        rows(g.kcore_survivors(edges, k=2, n_rounds=3)),
        rows(g.pagerank_fixed_point(edges, n_iter=3)),
        rows(g.triangle_count(edges)),
    )
    kernel = run()
    assert kernel[3] == [(7, 8, 4)]  # the K4 on {5,6,7,8}
    monkeypatch.setattr(g, "SMALL_GRAPH_MAX_EDGES", -1)
    assert run() == kernel


def test_connected_components_iteration_guard(spark):
    from chapterhouseqe_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3)], "id long")
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(pairs, ids, max_iterations=1)


def test_ngram_stop_shingle_cap_bounds_boilerplate(spark):
    """Pathological boilerplate corpus: 60 docs that differ only in a
    unique tail token. Uncapped, every shared shingle has a 60-doc
    posting list → C(60,2)=1770 candidate pairs; with the stop-shingle
    cap those postings are dropped and no candidates remain."""
    rows = [
        (i, f"common boilerplate header repeated everywhere unique token {i}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5, max_shingle_freq=None)
    assert uncapped.count() == 60 * 59 // 2
    capped = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5, max_shingle_freq=10)
    assert capped.count() == 0


def test_lsh_hot_bucket_salting(spark):
    """A cluster of colinear vectors collapses into ONE hyperplane
    bucket; max_bucket salts it into bounded sub-buckets, so the
    candidate count drops from quadratic to ~n_salt × C(cap, 2) while
    every emitted pair is still a true same-bucket pair."""
    rows = [(i, [0.01 * (1 + i % 5), 0.02, 0.03, 0.04]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    unsalted = {
        (r["id_a"], r["id_b"])
        for r in lsh_bucket_candidates(
            emb, dim=4, n_planes=2, max_bucket=None
        ).collect()
    }
    assert len(unsalted) == 40 * 39 // 2  # all colinear → one bucket
    salted = {
        (r["id_a"], r["id_b"])
        for r in lsh_bucket_candidates(emb, dim=4, n_planes=2, max_bucket=10).collect()
    }
    assert 0 < len(salted) < len(unsalted)
    assert salted <= unsalted


def test_ivf_kmeans_and_first_seeding_both_exact_at_full_probe(spark, sf_dir):
    from chapterhouseqe_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = cosine_topk(emb, F.col("vec_id") < 3, k=2)
    as_set = lambda df: {(r["probe_id"], r["id_b"], r["sim"]) for r in df.collect()}
    for method in ("kmeans", "first"):
        ivf = ivf_topk(
            emb, F.col("vec_id") < 3, k=2, n_centroids=4, nprobe=4,
            centroid_method=method,
        )
        assert as_set(ivf) == as_set(brute), method


def test_embedding_dedup_keep_first(spark):
    from chapterhouseqe_spark.operators.dedup import embedding_dedup_keep_first

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near-dup of 0 → dropped
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.2, 0.0]),   # near-dup of 2 → dropped
        (4, [0.0, 0.0, 0.0, 1.0]),    # unique → kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = sorted(r["vec_id"] for r in embedding_dedup_keep_first(emb, 0.9).collect())
    assert kept == [0, 2, 4]


def test_pq_encode_identical_vectors_share_codes(spark):
    from chapterhouseqe_spark.operators.similarity import pq_codebooks, pq_encode

    # 4-dim vectors, 2 subspaces of 2 dims, 2 codes
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 1.0]),   # identical to 0 -> same codes
        (3, [0.95, 0.05, 0.05, 0.9]),  # near 0 -> same codes
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_codebooks(emb, m_sub=2, k_codes=2, dim=4)
    assert cb.count() == 4  # 2 subspaces x 2 codes
    codes = {r["id"]: r["codes"] for r in pq_encode(emb, cb, m_sub=2, dim=4).collect()}
    assert len(codes) == 4 and all(len(c) == 2 for c in codes.values())
    assert codes[0] == codes[2] == codes[3]
    assert codes[0] != codes[1]


def test_pq_topk_ranks_same_cell_first(spark):
    from chapterhouseqe_spark.operators.similarity import pq_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 1.0]),
        (3, [0.9, 0.1, 0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_topk(emb, F.col("vec_id") == 3, k=2, m_sub=2, k_codes=2, dim=4).collect()
    assert [r["id_b"] for r in out] == [0, 2]  # same-cell neighbors, id tiebreak
    assert all(r["adist"] >= 0.0 for r in out)
    # deterministic across recomputation
    out2 = pq_topk(emb, F.col("vec_id") == 3, k=2, m_sub=2, k_codes=2, dim=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_ivfpq_full_buckets_matches_pq_ranking(spark):
    from chapterhouseqe_spark.operators.similarity import ivfpq_topk, pq_topk

    # with nprobe == n_centroids every candidate survives bucket
    # restriction, so IVF-PQ ranking must equal plain PQ ADC ranking
    # +1 offsets keep every vector non-zero (cosine bucket choice is
    # undefined for the zero vector; real corpora pre-filter those)
    rows = [(i, [float((i * 7 + j * 3) % 5 + 1), float((i + j) % 4),
                 float((i * 3) % 7), float(j % 2 + i % 3 + 1)])
            for i in range(12) for j in [i]]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = ivfpq_topk(
        emb, F.col("vec_id") < 3, k=2, n_centroids=4, nprobe=4,
        m_sub=2, k_codes=4, dim=4,
    ).collect()
    plain = pq_topk(
        emb, F.col("vec_id") < 3, k=2, m_sub=2, k_codes=4, dim=4
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, plain))


def test_pq_kmeans_codebooks_shape_and_better_fit(spark):
    from chapterhouseqe_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_kmeans,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebooks_kmeans(emb, m_sub=4, k_codes=4, dim=64)
    if cb is None:
        import pytest

        pytest.skip("MLlib unavailable")
    assert cb.count() == 16  # 4 subspaces x 4 codes
    assert cb.schema.simpleString() == "struct<m:int,k:int,cvec:array<double>>"
    # interchangeable with the 'first'-seeded codebooks in pq_encode
    codes = pq_encode(emb, cb, m_sub=4, dim=64)
    n = emb.count()
    got = codes.collect()
    assert len(got) == n and all(len(r["codes"]) == 4 for r in got)
    # fitted codebooks should not be WORSE than first-N seeds on total
    # quantization error (they minimize exactly that objective)
    from pyspark.sql import functions as FF

    def qerr(books):
        from chapterhouseqe_spark.operators.similarity import _l2sq

        d = 16
        sub = emb.select(
            FF.explode(FF.sequence(FF.lit(0), FF.lit(3))).alias("m"),
            FF.col("embedding").alias("v"),
        ).select("m", FF.slice(FF.col("v"), FF.col("m") * d + 1, d).alias("sv"))
        scored = sub.join(FF.broadcast(books), "m").select(
            _l2sq(FF.col("sv"), FF.col("cvec")).alias("dist"), "m", "sv"
        )
        best = scored.groupBy("m", "sv").agg(FF.min("dist").alias("bd"))
        return best.agg(FF.sum("bd")).collect()[0][0]

    assert qerr(cb) <= qerr(pq_codebooks(emb, m_sub=4, k_codes=4, dim=64)) * 1.001


def test_segment_dedup_packing_bounds_enforced(spark):
    """Out-of-range doc ids fail loudly instead of corrupting okeys."""
    import pytest as _pytest

    from chapterhouseqe_spark.operators.dedup import segment_dedup

    bad = spark.createDataFrame([(-1, "p1\n\np2")], "doc_id long, text string")
    with _pytest.raises(Exception, match="packing bounds"):
        segment_dedup(bad, "text", "doc_id").collect()


def test_kmeans_lloyd_properties(spark, sf_dir):
    """Lloyd invariants: total assignment, determinism, SSE descent."""
    from pyspark.sql import functions as F

    from chapterhouseqe_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()

    def sse(n_iter):
        cent, assign = kmeans_lloyd(emb, n_centroids=8, n_iter=n_iter)
        joined = (
            assign.join(
                emb.select(F.col("vec_id").alias("id"), "embedding"), "id"
            )
            .join(F.broadcast(cent), ["m", "cid"])
            .select(
                F.aggregate(
                    F.zip_with(
                        F.transform(
                            "embedding",
                            lambda x: F.floor(x.cast("double") * F.lit(1e6)),
                        ),
                        "cvec",
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d")
            )
        )
        return joined.agg(F.sum("d")).collect()[0][0], assign

    s0, a0 = sse(0)
    s2, a2 = sse(2)
    # every vector assigned to exactly one cluster, both runs
    assert a0.count() == n and a2.count() == n
    assert a2.select("id").distinct().count() == n
    # Lloyd never increases the objective
    assert s2 <= s0
    # per-subspace PQ mode: 4 subspaces x every vector
    _, pq_assign = kmeans_lloyd(emb, n_centroids=8, n_iter=1, m_sub=4)
    assert pq_assign.count() == 4 * n
    assert pq_assign.groupBy("m").count().count() == 4


def test_ann_recall_full_probe_is_perfect(spark, sf_dir):
    """nprobe == n_centroids makes IVF exact, so recall@k must be 1.0
    for every probe; counts are full on both sides."""
    from chapterhouseqe_spark.operators.similarity import ann_recall

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = ann_recall(
        emb, F.col("vec_id") < 4, k=5, n_centroids=8, nprobe=8
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_exact == 5 and r.n_approx == 5 and r.n_overlap == 5
        assert r.recall_at_k == 1.0


def test_ann_recall_partial_probe_bounded(spark, sf_dir):
    """With nprobe < n_centroids recall stays in [0, 1] and overlap
    never exceeds either side."""
    from chapterhouseqe_spark.operators.similarity import ann_recall

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = ann_recall(
        emb, F.col("vec_id") < 4, k=5, n_centroids=8, nprobe=2
    ).collect()
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_overlap <= min(r.n_exact, r.n_approx)


def test_semantic_dedup_drops_subset_of_exact(spark, sf_dir):
    """Clustering only REMOVES candidate pairs, so SemDeDup survivors
    are a superset of the exact all-pairs keep-first survivors, and
    exact duplicates (distance 0 → same cluster always) still die."""
    from chapterhouseqe_spark.operators.dedup import (
        embedding_dedup_keep_first,
        semantic_dedup_keep,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    sem = {
        r.vec_id
        for r in semantic_dedup_keep(emb, 0.4, n_centroids=4).collect()
    }
    exact = {
        r.vec_id for r in embedding_dedup_keep_first(emb, 0.4).collect()
    }
    assert exact <= sem
    # plant an exact duplicate of vec 0 with a larger id: must be dropped
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionByName(dup)
    sem2 = {
        r.vec_id
        for r in semantic_dedup_keep(planted, 0.4, n_centroids=4).collect()
    }
    assert 100000 not in sem2


def test_unigram_prob_scores_hand_checked(spark):
    """3-doc corpus: 'a a b' / 'a c' / 'd'. total=6, counts a=3,b=1,
    c=1,d=1. Doc1 cnt_sum=3+3+1=7, n=3 → 7/18; doc2 (3+1)/12; doc3 1/6."""
    from chapterhouseqe_spark.functions.text import unigram_prob_scores

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "d")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.cnt_sum, r.mean_prob)
        for r in unigram_prob_scores(df).collect()
    }
    assert got[1] == (3, 7, 7 / 18)
    assert got[2] == (2, 4, 4 / 12)
    assert got[3] == (1, 1, 1 / 6)


def test_ivf_sq_prebuilt_matches_inline(spark, sf_dir):
    """The prebuilt-index search path returns exactly the inline
    build's results (same centroids/assignments -> same candidates ->
    same integer ranking)."""
    from pyspark.sql import functions as F

    from chapterhouseqe_spark.operators.similarity import (
        ivf_assign,
        ivf_sq_topk,
        sq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    inline = ivf_sq_topk(
        emb, F.col("vec_id") < 4, k=3, n_centroids=8, nprobe=2,
        centroid_method="first",
    )
    idx = ivf_assign(emb, 8, "vec_id", "embedding", "first")
    pre = ivf_sq_topk(
        emb, F.col("vec_id") < 4, k=3, n_centroids=8, nprobe=2,
        prebuilt=idx,
    )
    assert sorted(map(tuple, inline.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, pre.collect()), key=lambda t: (t[0], t[3]))
    # probing every bucket ranks the whole corpus: the shared probe-bucket
    # choice and integer dot then reproduce the flat SQ scan exactly
    full = ivf_sq_topk(
        emb, F.col("vec_id") < 4, k=3, n_centroids=8, nprobe=8,
        centroid_method="first",
    )
    flat = sq_topk(emb, F.col("vec_id") < 4, k=3)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, flat.collect()))


def test_ivf_sq_prebuilt_query_warm_reuse(spark, sf_dir, tmp_path, monkeypatch):
    """The graded prebuilt query's phase split: the first call builds
    and persists the index; a second call must NOT rebuild (the
    _SUCCESS markers gate the build) and must return identical rows."""
    import os

    import chapterhouseqe_spark.operators.similarity as sim
    from chapterhouseqe_spark.queries.pipeline_queries import (
        embedding_ivf_sq_prebuilt_topk,
    )

    cold = sorted(
        map(tuple, embedding_ivf_sq_prebuilt_topk(spark, sf_dir).collect())
    )
    from chapterhouseqe_spark.queries.core_sql import _source_fingerprint

    base = f"/tmp/chqe_ivf_index/{_source_fingerprint(sf_dir, 'embeddings')}"
    assert os.path.exists(f"{base}/centroids/_SUCCESS")
    assert os.path.exists(f"{base}/assignments/_SUCCESS")

    # poison the build path: a warm call must never reach ivf_assign
    def boom(*a, **kw):
        raise AssertionError("warm call rebuilt the IVF index")

    monkeypatch.setattr(sim, "ivf_assign", boom)
    warm = sorted(
        map(tuple, embedding_ivf_sq_prebuilt_topk(spark, sf_dir).collect())
    )
    assert warm == cold


def test_hard_negatives_label_exclusion_and_order(spark, sf_dir):
    """Every mined negative carries a label different from its
    anchor's, ranks are 1..k with sims non-increasing, and the rnk=1
    row is the true nearest different-label neighbor (cross-checked
    against a numpy brute force)."""
    import numpy as np
    from pyspark.sql import functions as F

    from chapterhouseqe_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = hard_negatives(emb, F.col("vec_id") < 4, k=3).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.select("vec_id", "label").collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    by_anchor: dict = {}
    for r in rows:
        assert labels[r["id_b"]] != labels[r["anchor_id"]]
        assert r["label_b"] == labels[r["id_b"]]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for aid, rs in by_anchor.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        # numpy brute force for the top negative
        a = vecs[aid]
        best = max(
            (
                (
                    float(
                        a @ vecs[b] / (np.linalg.norm(a) * np.linalg.norm(vecs[b]))
                    ),
                    -b,
                )
                for b in vecs
                if labels[b] != labels[aid]
            ),
        )
        assert rs[0]["id_b"] == -best[1]


def test_qgram_join_predicates_and_known_pair(spark, tmp_path):
    """Candidate filtering is sound for the returned set: every pair
    satisfies shared-gram and distance predicates; a planted typo pair
    (distance 1, long shared runs) always surfaces; an unrelated
    string never pairs."""
    from chapterhouseqe_spark.operators.fuzzy import qgram_levenshtein_join

    df = spark.createDataFrame(
        [
            ("economy anodized steel",),
            ("economy anodizes steel",),  # 1 edit from the first
            ("promo burnished copper",),
            ("zzz",),
            ("economy anodized steel",),  # duplicate row: dedup first
        ],
        "name string",
    )
    out = qgram_levenshtein_join(df, "name", q=3, min_shared=2, max_dist=2)
    rows = out.collect()
    assert all(r["name_a"] < r["name_b"] for r in rows)
    assert all(r["n_shared"] >= 2 and r["lev"] <= 2 for r in rows)
    got = {(r["name_a"], r["name_b"]) for r in rows}
    assert ("economy anodized steel", "economy anodizes steel") in got
    assert not any("zzz" in p for pair in got for p in pair)


def test_qgram_join_stop_gram_cap(spark):
    """The max_gram_freq cap drops over-cap grams from blocking: a
    pair whose shared grams are ALL hot becomes unfindable (documented
    recall contract), while a pair sharing rare grams still surfaces
    with n_shared counting only the non-hot ones."""
    from chapterhouseqe_spark.operators.fuzzy import qgram_levenshtein_join

    # "commonxy " prefix grams appear in all 6 names (df=6 > cap=3);
    # the shared "tail" grams span all 4 tail names (df=4 > cap=3);
    # the planted near-pair also shares df=2 suffix grams.
    names = [f"commonxy tail{i:02d}" for i in range(4)] + [
        "commonxy qrststu",
        "commonxy qrstsu",  # 1 edit from the line above
    ]
    pair = ("commonxy qrststu", "commonxy qrstsu")  # name_a < name_b
    df = spark.createDataFrame([(n,) for n in names], "name string")
    capped = qgram_levenshtein_join(
        df, "name", q=3, min_shared=2, max_dist=2, max_gram_freq=3
    ).collect()
    got = {(r["name_a"], r["name_b"]) for r in capped}
    # the near-pair survives on its rare suffix grams alone...
    assert pair in got
    # ...and its n_shared excludes the hot prefix grams
    uncapped = qgram_levenshtein_join(
        df, "name", q=3, min_shared=2, max_dist=2, max_gram_freq=None
    ).collect()
    n_capped = {r["n_shared"] for r in capped
                if (r["name_a"], r["name_b"]) == pair}
    n_full = {r["n_shared"] for r in uncapped
              if (r["name_a"], r["name_b"]) == pair}
    assert n_capped and n_full and max(n_capped) < max(n_full)
    # tail pairs share ONLY hot grams -> unfindable under the cap,
    # present without it
    tails = {(a, b) for (a, b) in
             {(r["name_a"], r["name_b"]) for r in uncapped}
             if "tail" in a and "tail" in b}
    assert tails  # uncapped finds them (lev 1-2 on the digits)
    assert not any("tail" in a and "tail" in b for (a, b) in got)
