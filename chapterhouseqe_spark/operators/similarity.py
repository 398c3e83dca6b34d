"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; LSH bucketing is
the scale path. All dot products run JVM-side via ``zip_with`` +
``aggregate`` — no Python UDFs.

Determinism: dot products and norms accumulate as a SEQUENTIAL left
fold over the array (``F.aggregate`` here, ``list_reduce`` in the
DuckDB oracle) — identical IEEE op order on both engines makes the
doubles bit-exact; ranking ties break on the neighbor id.

Shared stages — each step of the family has one owner here, and every
operator (plus the pair scorers in ``dedup``, ``corpus`` and the query
registry) goes through it:

- :func:`cosine` is the one exact cosine: the :func:`exact_dot` fold
  over the two norms, which pair scorers hoist into per-row columns
  with :func:`normed`. A zero-norm vector has no direction, so its
  similarity is NULL (``try_divide``; DuckDB's ``x / 0.0`` is NULL
  too) rather than an ANSI ``DIVIDE_BY_ZERO`` abort.
- :func:`_top_k` is the per-key ``row_number`` cut. Ranked over a
  whole corpus of more than :data:`SALTED_TOPK_MIN_ROWS` rows it runs
  salted two-stage (still exact): k survivors per probe and
  ``id_b mod TOPK_SALTS`` bucket first, so no single task funnels the
  corpus's candidates for one probe.
- ANN stages: :func:`_probe_buckets` (IVF probe-bucket choice),
  :func:`_subvectors` (PQ subvector explode), :func:`_adc_tables` and
  :func:`_adc_top_k` (ADC distance tables, and the lookup fold that
  ranks by them), :func:`_int_dot` (SQ integer dot) and :func:`_l2sq`
  (squared-L2 fold).

100 TB execution shapes:

- ``cosine_topk``: probes broadcast (small), corpus scanned once,
  per-partition partial top-k via window over (probe, sim) — the
  shuffle carries only candidate rows. Brute force is O(|corpus| ×
  |probes|): right for reranking and small probe sets.
- ``cosine_pairs``: all-pairs — audit/verification only; quadratic.
- ``lsh_bucket_candidates``: random-hyperplane signatures bucket the
  corpus; candidate pairs come from within-bucket joins. One narrow
  signature pass + one shuffle on the bucket key. Recall tunes with
  ``n_planes`` (fewer planes → bigger buckets → higher recall, more
  compute). Hot buckets (near-zero vectors) are the skew risk —
  ``max_bucket`` salts them into bounded sub-buckets (default on).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chapterhouseqe_spark.operators.guards import (
    CANDIDATE_MASS_BUDGET,
    check_candidate_mass,
)
from chapterhouseqe_spark.operators.util import ensure_parallelism
from chapterhouseqe_spark.session import checkpoint, keep

# _top_k over more corpus rows than this runs salted two-stage; below
# it the extra exchange costs more than the funnel it avoids
SALTED_TOPK_MIN_ROWS = 20_000
TOPK_SALTS = 32


def exact_dot(a: Column | str, b: Column | str) -> Column:
    """Deterministic dot product of two float arrays (as double).

    float32×float32 products are exact in double (24+24 ≤ 53 mantissa
    bits); the sum is a sequential left fold in array order, so any
    engine folding the same way (DuckDB ``list_reduce``) gets the same
    bits.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def vec_norm(a: Column | str) -> Column:
    """``sqrt(self-dot)`` — the per-vector denominator factor of
    :func:`cosine`."""
    return F.sqrt(exact_dot(a, a))


def normed(vec: Column | str, alias: str, norm: str) -> tuple[Column, Column]:
    """A vector column and its norm, for the per-row projection that
    feeds a pairing join: each norm then folds once per vector instead
    of once per pair (pass ``alias``/``norm`` to :func:`cosine`)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return vec.alias(alias), vec_norm(vec).alias(norm)


def cosine(
    a: Column | str,
    b: Column | str,
    na: str | None = None,
    nb: str | None = None,
) -> Column:
    """Exact cosine of two float arrays; NULL when either norm is 0.

    ``na``/``nb`` name per-row norm columns hoisted with :func:`normed`;
    without them the norms fold inline. Either way the doubles go
    through the same operations in the same order, so the two forms
    are bit-identical (the DuckDB oracles replay the hoisted
    ``dot / (na.nrm * nb.nrm)`` form).
    """
    norms = vec_norm(a) * vec_norm(b) if na is None else F.col(na) * F.col(nb)
    return F.try_divide(exact_dot(a, b), norms)


def _top_k(
    frame: DataFrame,
    keys: list,
    order: list,
    k: int,
    cols: list | None = None,
    rank: str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """The first ``k`` rows per ``keys`` under ``order`` (a total
    order: every caller ends it on a unique id).

    The ``row_number`` lands in ``rank`` as a BIGINT output column, or,
    when ``rank`` is None, in a scratch ``rn`` that ``cols`` may read
    and that is dropped. ``k == 1`` keeps the argmin form ``rn = 1``.
    ``n_rows`` is the size of the corpus being ranked: above
    :data:`SALTED_TOPK_MIN_ROWS` a first pass keeps ``k`` rows per
    ``keys`` and ``id_b mod TOPK_SALTS`` bucket. That is still exact —
    every true top-k row wins its own bucket — and bounds the final
    window at ``k * TOPK_SALTS`` rows per key.
    """
    if n_rows is not None and n_rows > SALTED_TOPK_MIN_ROWS:
        salt = F.pmod(F.col("id_b"), F.lit(TOPK_SALTS))
        frame = _top_k(frame, [*keys, salt], order, k)
    rn = F.row_number().over(Window.partitionBy(*keys).orderBy(*order))
    name = rank or "rn"
    ranked = frame.withColumn(name, rn.cast("bigint") if rank else rn)
    kept = ranked.filter(F.col(name) == 1 if k == 1 else F.col(name) <= k)
    return kept.select(*cols) if cols else kept.drop(name)


def cosine_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidate_rows: int | None = CANDIDATE_MASS_BUDGET,
) -> DataFrame:
    """Top-k cosine neighbors for every probe row (brute-force baseline).

    Returns (probe_id, id_b, sim). Probes are the rows matching
    ``probe_filter``; neighbors exclude the probe itself.

    EXACT BASELINE — one full corpus scan PER PLAN regardless of probe
    count; right for reranking small candidate sets and audits. For
    many probes or production serving use the ANN tiers
    (``ivf_topk``/``pq_topk``/``ivfpq_topk``/``sq_topk``) — linear
    scans per probe do not survive a 100× corpus.

    The top-k is :func:`_top_k` sized by the corpus count (a
    metadata-cheap parquet count): salted two-stage above
    :data:`SALTED_TOPK_MIN_ROWS` rows, one window below.

    ``max_candidate_rows`` is the candidate-mass fail-fast (shared
    helper in ``operators/guards.py``): the scored-pair mass is exactly
    |probes| × (|corpus| − 1), and a SELF-PROBE filter
    (``id % m == r``) grows |probes| with the corpus. The probe count
    is a column-pruned filtered scan. Results-neutral: counts only,
    never filters. ``None`` waives for probe runs.
    """
    n_corpus = emb.count()
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("probe_id"), *normed(vec_col, "ea", "na")
    )
    if max_candidate_rows is not None:
        check_candidate_mass(
            "cosine_topk",
            probes.count() * float(max(n_corpus - 1, 0)),
            max_candidate_rows,
            knob="max_candidate_rows",
            law="brute-force scored-pair mass |probes| * (|corpus|-1); "
            "a self-probe filter (id % m == r) grows |probes| with "
            "the corpus, so the pass is quadratic when m is held "
            "fixed (the retrieval family's measured law)",
            remediations="shrink the probe set (raise the probe "
            "modulus or pass an explicit id list), or serve many "
            "probes from the ANN tiers (ivf_topk/pq_topk/ivfpq_topk/"
            "lsh_multiprobe_topk)",
        )
    corpus = ensure_parallelism(emb).select(
        F.col(id_col).alias("id_b"), *normed(vec_col, "eb", "nb")
    )
    pairs = F.broadcast(probes).crossJoin(corpus).filter(F.col("probe_id") != F.col("id_b"))
    scored = pairs.select(
        "probe_id", "id_b", cosine("ea", "eb", "na", "nb").alias("sim")
    )
    return _top_k(
        scored, ["probe_id"], [F.col("sim").desc(), F.col("id_b")], k,
        ["probe_id", "id_b", "sim"], n_rows=n_corpus,
    )


# cosine_pairs refuses frames above this bound unless force=True:
# 50k vectors is ~1.25e9 scored pairs — the last size where the O(n²)
# crossJoin finishes in minutes on a 32-core node; past it the scan is
# hours-to-never and the caller meant to use the ANN family.
COSINE_PAIRS_MAX_ROWS = 50_000


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force: bool = False,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact quadratic baseline.

    VERIFICATION BASELINE ONLY — O(n²) crossJoin. Refuses frames above
    :data:`COSINE_PAIRS_MAX_ROWS` (50k rows ≈ 1.25e9 scored pairs)
    with a ValueError unless ``force=True`` (mirroring
    ``ngram_jaccard_pairs``' fail-fast): the count is one
    metadata-cheap action, and failing in seconds beats a
    week-long cross-join a caller aimed at a real corpus by mistake.
    The scale paths are the graded ANN family
    (``lsh_bucket_candidates``/``ivf_topk``/``pq_topk``/``sq_topk``)
    and LSH+connected-components dedup.
    """
    if not force:
        n = emb.count()
        if n > COSINE_PAIRS_MAX_ROWS:
            raise ValueError(
                f"cosine_pairs: {n:,} vectors is ~{n * (n - 1) // 2:.3g} "
                "scored pairs through an O(n²) crossJoin — this "
                "operator is the exact verification BASELINE, bounded "
                f"at {COSINE_PAIRS_MAX_ROWS:,} rows. Use the ANN "
                "family (lsh_bucket_candidates / ivf_topk / pq_topk) "
                "for real corpora, or pass force=True for a deliberate "
                "oversized audit run."
            )
    a = ensure_parallelism(emb).select(
        F.col(id_col).alias("id_a"), *normed(vec_col, "ea", "na")
    )
    b = emb.select(F.col(id_col).alias("id_b"), *normed(vec_col, "eb", "nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("ea", "eb", "na", "nb").alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def hard_negatives(
    emb: DataFrame,
    anchor_filter: Column,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` nearest-by-cosine corpus vectors carrying a DIFFERENT
    label — the negatives closest to the decision boundary, the
    standard pair-mining step for embedding finetunes (in-batch
    negatives miss exactly these).

    Same plan discipline as :func:`cosine_topk` (broadcast anchors ×
    corpus, no corpus shuffle for candidate generation; the same
    size-selected salted top-k) with one extra scan-stage predicate:
    ``label_b != label_a``, applied BEFORE scoring so mismatched rows
    never pay the dot product. Exact by construction — for a mined
    training set, audit-grade exactness matters more than ANN speed;
    at 100 TB run the same shape over ANN candidates (``ivf_topk``
    output) instead of the raw corpus. Returns (anchor_id, id_b,
    label_b, sim, rnk), rnk <= k, ties broken on smaller id_b.
    """
    n_corpus = emb.count()
    anchors = emb.filter(anchor_filter).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("ea"),
        F.col(label_col).alias("label_a"),
        vec_norm(vec_col).alias("na"),
    )
    corpus = ensure_parallelism(emb).select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("eb"),
        F.col(label_col).alias("label_b"),
        vec_norm(vec_col).alias("nb"),
    )
    scored = (
        F.broadcast(anchors)
        .crossJoin(corpus)
        .filter(F.col("label_b") != F.col("label_a"))
        .select(
            "anchor_id", "id_b", "label_b",
            cosine("ea", "eb", "na", "nb").alias("sim"),
        )
    )
    return _top_k(
        scored, ["anchor_id"], [F.col("sim").desc(), F.col("id_b")], k,
        ["anchor_id", "id_b", "label_b", "sim", "rnk"], rank="rnk",
        n_rows=n_corpus,
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_candidates(
    emb: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Candidate pairs from random-hyperplane LSH buckets (scale path).

    Each vector gets an ``n_planes``-bit signature (sign of the dot with
    each fixed seeded hyperplane); pairs sharing a signature are
    candidates. Feed the result into :func:`cosine` for exact rerank.

    ``max_bucket`` is the hot-bucket guard: near-zero / duplicate-heavy
    vectors collapse into one signature and make that bucket's self-join
    quadratic. A bucket of size S > max_bucket is SALTED into
    ceil(S/max_bucket) deterministic sub-buckets (``xxhash64(id)`` mod
    n_salt), bounding each join partition at ~max_bucket ids; only pairs
    split across salts are lost, and only for over-cap buckets — the
    standard recall-for-boundedness trade. ``None`` disables.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    sig = _signature(vec_col, planes)
    bucketed = ensure_parallelism(emb).select(F.col(id_col).alias("id"), sig.alias("bucket"))
    if max_bucket is not None:
        # bucketed feeds the size pass + both join sides — persist so the
        # signature expressions run once.
        bucketed = keep(bucketed)
        sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsize"))
        if n_planes <= 16:
            # ≤2^n_planes observed buckets — one row each, broadcastable;
            # avoids a shuffle join just to attach sizes.
            sizes = F.broadcast(sizes)
        bucketed = (
            bucketed.join(sizes, "bucket")
            .withColumn(
                "salt",
                F.when(
                    F.col("bsize") > max_bucket,
                    F.pmod(
                        F.xxhash64("id"),
                        F.ceil(F.col("bsize") / max_bucket).cast("long"),
                    ),
                ).otherwise(F.lit(0).cast("long")),
            )
            .select("id", "bucket", "salt")
        )
    else:
        bucketed = bucketed.withColumn("salt", F.lit(0).cast("long"))
    a = bucketed.select(F.col("id").alias("id_a"), "bucket", "salt")
    b = bucketed.select(F.col("id").alias("id_b"), "bucket", "salt")
    return (
        a.join(b, ["bucket", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "bucket")
    )


def _signature(vec_col: str, planes: list[list[float]]):
    """n-bit hyperplane signature column (bit j = sign of dot with
    plane j) — the shared primitive of the LSH tiers."""
    sig = None
    for j, p in enumerate(planes):
        dot = exact_dot(vec_col, F.array(*[F.lit(v) for v in p]))
        bit = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig


def lsh_multiprobe_topk(
    emb: DataFrame,
    n_probe_ids: int = 8,
    n_planes: int = 8,
    k: int = 3,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MULTI-PROBE LSH top-k (Lv et al. 2007): each query probes its
    own signature bucket PLUS the ``n_planes`` single-bit-flip
    neighbors — the buckets a near neighbor most likely fell into when
    one hyperplane's sign disagreed. Recall rises toward brute force
    without adding hash tables (the classic memory-for-probes trade:
    L tables → 1 table × L probes).

    Candidates are exact-cosine reranked; output is (probe_id, id_b,
    sim), top-``k`` per probe with the (sim DESC, id_b) tiebreak — the
    same contract as the other ANN tiers, so the recall harness
    compares them directly.

    100 TB shape: one signature pass over the corpus (persisted — it
    feeds the candidate join), a (n_planes+1)-row explode per PROBE
    (probes are few), one hash join on the bucket key, and a per-probe
    top-k window bounded by that probe's candidate count (≈ (n_planes+1)
    · corpus/2^n_planes rows). No cartesian anywhere; hot buckets
    inherit the corpus-side distribution, so pair the probe join with
    the salting guard of :func:`lsh_bucket_candidates` if the corpus
    is degenerate.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    sig = _signature(vec_col, planes)
    corpus = keep(
        ensure_parallelism(emb)
        .select(
            F.col(id_col).alias("id_b"),
            *normed(vec_col, "eb", "nb"),
            sig.cast("int").alias("bucket"),
        )
    )
    probes = emb.filter(F.col(id_col) < n_probe_ids).select(
        F.col(id_col).alias("probe_id"),
        *normed(vec_col, "ea", "na"),
        sig.cast("int").alias("psig"),
    )
    probed = probes.select(
        "probe_id",
        "ea",
        "na",
        F.explode(
            F.expr(
                f"concat(array(psig), transform(sequence(0, {n_planes - 1}), "
                "j -> cast(psig ^ shiftleft(1, j) as int)))"
            )
        ).alias("bucket"),
    )
    cand = probed.join(corpus, "bucket").filter(
        F.col("id_b") != F.col("probe_id")
    )
    scored = cand.select(
        "probe_id", "id_b", cosine("ea", "eb", "na", "nb").alias("sim")
    )
    return _top_k(
        scored, ["probe_id"], [F.desc("sim"), F.col("id_b")], k,
        ["probe_id", "id_b", "sim"],
    )


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Distributed k-means centroids via Spark ML (k-means|| init).

    Returns (cid, cvec) with cid 0..n_centroids-1. The fit is one MLlib
    job over the corpus (Lloyd iterations, each a map-side partial-sum
    aggregation — the same shuffle shape as a groupBy); deterministic for
    a fixed seed and input. Falls back to first-N-by-id seeding if
    pyspark.ml is unavailable in the runtime.
    """
    spark = emb.sparkSession
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError:  # minimal runtimes without MLlib
        return None
    feats = ensure_parallelism(emb).select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "cid long, cvec array<double>")


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_method: str = "kmeans",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: (centroids, assignments).

    ``centroid_method='kmeans'`` (default) fits Spark ML k-means for the
    coarse quantizer — balanced cells, the production choice. NOTE the
    fit is EAGER: it runs a full MLlib job the moment this function is
    called, not when the returned frames are acted on — callers that
    need lazy plan construction (query registries, schema probes) should
    pass ``'first'``, which seeds from the first ``n_centroids`` vectors
    by id and stays entirely inside the lazy plan. Either way the search
    machinery is identical, and top-k at full probe is exact regardless
    of centroid quality. Every corpus vector joins its nearest centroid:
    one broadcast cross join + one window argmin, a single pass over the
    corpus.
    """
    centroids = None
    if centroid_method == "kmeans":
        centroids = kmeans_centroids(emb, n_centroids, vec_col)
    elif centroid_method == "lloyd":
        # cross-engine-replayable trained coarse quantizer (see
        # kmeans_lloyd); centroids live in the quantized scale, which
        # cosine assignment is invariant to. Lazy, unlike MLlib.
        cent, _ = kmeans_lloyd(
            emb, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
        centroids = cent.select("cid", "cvec")
    if centroids is None:  # 'first', or MLlib unavailable
        centroids = (
            ensure_parallelism(emb)
            .orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        )
    corpus = ensure_parallelism(emb).select(
        F.col(id_col).alias("id"), *normed(vec_col, "vec", "nv")
    )
    # centroid norms ride the broadcast (n_centroids rows); the corpus
    # row's norm folds once instead of once per centroid
    cent_n = centroids.select("cid", "cvec", vec_norm("cvec").alias("nc"))
    scored = corpus.crossJoin(F.broadcast(cent_n)).select(
        "id", "vec", "cid", cosine("vec", "cvec", "nv", "nc").alias("csim")
    )
    assignments = _top_k(
        scored, ["id"], [F.col("csim").desc(), F.col("cid")], 1,
        ["id", "vec", "cid"],
    )
    return centroids, assignments


def _probe_buckets(
    probes: DataFrame, centroids: DataFrame, nprobe: int, *carry: str
) -> DataFrame:
    """IVF probe-bucket choice: each probe's ``nprobe`` nearest
    centroids by cosine of ``pvec`` to ``cvec`` (ties to the smaller
    ``cid``), as (probe_id, *carry, cid). Probes and centroids are both
    small, so both sides broadcast."""
    scored = F.broadcast(probes).crossJoin(F.broadcast(centroids)).select(
        "probe_id", *carry, "cid", cosine("pvec", "cvec").alias("csim")
    )
    return _top_k(
        scored, ["probe_id"], [F.col("csim").desc(), F.col("cid")], nprobe,
        ["probe_id", *carry, "cid"],
    )


def ivf_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_method: str = "kmeans",
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` closest
    centroid buckets per probe.

    With ``nprobe == n_centroids`` this is EXACT (equals
    :func:`cosine_topk`) — the test pins that for BOTH centroid methods.
    At scale the win is that each probe touches ~nprobe/n_centroids of
    the corpus; buckets are the shuffle key, so a probe batch fans out
    to its buckets only.
    """
    centroids, assignments = ivf_assign(
        emb, n_centroids, id_col, vec_col, centroid_method
    )
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("probe_id"), *normed(vec_col, "pvec", "pn")
    )
    probe_buckets = _probe_buckets(probes, centroids, nprobe, "pvec", "pn")
    # corpus-side norm folds once per assignment row, not once per
    # (probe, candidate) pair
    cand = probe_buckets.join(
        assignments.withColumn("vn", vec_norm("vec")), "cid"
    ).filter(F.col("probe_id") != F.col("id"))
    scored = cand.select(
        "probe_id",
        F.col("id").alias("id_b"),
        cosine("pvec", "vec", "pn", "vn").alias("sim"),
    )
    return _top_k(
        scored, ["probe_id"], [F.col("sim").desc(), F.col("id_b")], k,
        ["probe_id", "id_b", "sim"],
    )


# ------------------------------------------------------------ product
# quantization (PQ)


def pq_codebooks(
    emb: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ codebooks, seeded from the first ``k_codes``
    vectors by id (the deterministic 'first' convention — same trade as
    ``ivf_assign(centroid_method='first')``: stays inside the lazy plan
    and is exactly reproducible by the DuckDB oracle; swap in a k-means
    fit per subspace for production codebooks).

    Returns (m, k, cvec): subspace index, code index, and the
    ``dim/m_sub``-dim sub-centroid. m_sub*k_codes rows — broadcastable
    at any corpus scale (PQ codebooks are KB-sized by construction).
    """
    if dim % m_sub:
        raise ValueError("dim must divide evenly into m_sub subspaces")
    d = dim // m_sub
    # rank-by-id via triangular join instead of a partitionless window:
    # the frame is only k_codes rows, but keeping WindowExec's "no
    # partition defined" warning out of the plan means any such warning
    # in bench logs is a REAL full-data window regression signal.
    base = ensure_parallelism(emb).orderBy(id_col).limit(k_codes)
    ids = base.select(F.col(id_col).alias("__sid"))
    ranks = (
        ids.alias("a")
        .join(
            ids.select(F.col("__sid").alias("__oid")).alias("b"),
            F.col("__oid") < F.col("__sid"),
            "left",
        )
        .groupBy("__sid")
        .agg(F.count("__oid").alias("k"))
    )
    seeds = base.join(
        ranks, base[id_col] == ranks["__sid"]
    ).select(base["*"], "k")
    return seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m"),
        F.col("k"),
        F.col(vec_col).alias("__v"),
    ).select(
        "m",
        "k",
        F.transform(
            F.slice(F.col("__v"), F.col("m") * d + 1, d),
            lambda x: x.cast("double"),
        ).alias("cvec"),
    )


def _l2sq(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold squared L2 distance (bit-exact across engines,
    same convention as :func:`exact_dot`)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _ordered_values(key: str, val: str) -> Column:
    """Aggregate: the group's ``val`` values as an array ordered by
    ``key``."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(key, val))), lambda x: x[val]
    )


def _subvectors(
    frame: DataFrame, key: str, name: str, vec: str, m_sub: int, dim: int
) -> DataFrame:
    """PQ subvector explode: one (name, m, sv) row per subspace ``m``,
    ``sv`` the m-th ``dim/m_sub`` slice of ``vec``, keyed by ``key``
    renamed to ``name``."""
    d = dim // m_sub
    return frame.select(
        F.col(key).alias(name),
        F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m"),
        F.col(vec).alias("__v"),
    ).select(name, "m", F.slice(F.col("__v"), F.col("m") * d + 1, d).alias("sv"))


def _adc_tables(psub: DataFrame, codebooks: DataFrame) -> DataFrame:
    """ADC distance tables for probe subvectors ``psub`` (from
    :func:`_subvectors`): (probe_id, tbl) with ``tbl[m][k]`` the exact
    squared L2 from the probe's m-th subvector to sub-centroid k."""
    pdists = psub.join(F.broadcast(codebooks), "m").select(
        "probe_id", "m", "k", _l2sq("sv", "cvec").alias("pd")
    )
    per_m = pdists.groupBy("probe_id", "m").agg(
        _ordered_values("k", "pd").alias("row")
    )
    return per_m.groupBy("probe_id").agg(
        _ordered_values("m", "row").alias("tbl")
    )


def _adc_top_k(cand: DataFrame, m_sub: int, k: int) -> DataFrame:
    """Per-probe top-k of (probe_id, id, codes, tbl) candidates by ADC
    distance, ties to the smaller id: (probe_id, id_b, adist). The
    distance is m_sub table lookups summed as a sequential fold over m,
    so it is bit-exact vs the oracle."""
    adist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0.0),
        lambda acc, m: acc + F.col("tbl")[m][F.col("codes")[m]],
    )
    scored = cand.select(
        "probe_id", F.col("id").alias("id_b"), adist.alias("adist")
    )
    return _top_k(
        scored, ["probe_id"], [F.col("adist").asc(), F.col("id_b")], k,
        ["probe_id", "id_b", "adist"],
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: (id, codes array<int> of length m_sub).

    Each subvector maps to its nearest sub-centroid (squared L2, ties
    to the smaller code). 100 TB shape: the corpus fans out m_sub× (one
    narrow explode), joins the BROADCAST codebooks (k_codes candidates
    per subvector — a map-side nested loop over a KB-sized table, no
    shuffle), then ONE shuffle on (id) reassembles the code array. The
    encoded corpus is dim*4/m_sub smaller than the raw vectors — the
    reason PQ exists: a 100 TB float corpus becomes ~3 TB of codes that
    fit a much smaller cluster tier for serving.
    """
    sub = _subvectors(ensure_parallelism(emb), id_col, "id", vec_col, m_sub, dim)
    scored = sub.join(F.broadcast(codebooks), "m").select(
        "id", "m", "k", _l2sq("sv", "cvec").alias("dist")
    )
    best = _top_k(
        scored, ["id", "m"], [F.col("dist").asc(), F.col("k").asc()], 1,
        ["id", "m", "k"],
    )
    return best.groupBy("id").agg(_ordered_values("m", "k").alias("codes"))


def pq_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 3,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k neighbors by PQ asymmetric distance (ADC).

    Per probe, a distance TABLE (m_sub × k_codes doubles: exact squared
    L2 from the probe's subvector to every sub-centroid) is built once;
    a corpus row's approximate distance is then m_sub table lookups
    summed — no float multiply per pair, and the corpus side touches
    only the encoded codes, never the raw vectors. The lookup sum runs
    as a SEQUENTIAL fold over m (array expression), so it is
    deterministic and bit-exact vs the oracle.

    Scale: probes and their tables broadcast; the encoded corpus is
    scanned once; per-probe top-k via window. Compose with IVF bucket
    restriction (ivf_assign) for the full IVF-PQ serving shape; rerank
    the top-R with exact :func:`cosine` when recall matters.

    Returns (probe_id, id_b, adist) — smaller adist = nearer; ties
    break on id_b.
    """
    codebooks = pq_codebooks(emb, m_sub, k_codes, dim, id_col, vec_col)
    codes = pq_encode(emb, codebooks, m_sub, dim, id_col, vec_col)
    psub = _subvectors(
        emb.filter(probe_filter), id_col, "probe_id", vec_col, m_sub, dim
    )
    cand = codes.crossJoin(F.broadcast(_adc_tables(psub, codebooks))).filter(
        F.col("id") != F.col("probe_id")
    )
    return _adc_top_k(cand, m_sub, k)


def ivfpq_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_method: str = "first",
) -> DataFrame:
    """IVF-PQ: the production ANN serving shape — IVF bucket restriction
    composed with PQ asymmetric-distance ranking.

    Per probe, only the ``nprobe``/``n_centroids`` nearest coarse cells
    are searched (the IVF win: each probe touches a corpus fraction),
    and within them candidates are ranked by PQ ADC over the encoded
    codes (the PQ win: the scanned candidate payload is dim·4/m_sub
    smaller and each comparison is m_sub table lookups). This is the
    FAISS ``IVFx,PQy`` composition re-expressed as DataFrame ops:
    nothing leaves the JVM, every small side broadcasts, and the only
    wide operations are the keyed exchanges of encode/assign plus the
    per-probe top-k window. Bucket choice uses cosine (matching
    :func:`ivf_topk`); ranking uses squared-L2 ADC — rerank the top-R
    with exact :func:`cosine` when the metrics must agree exactly.

    Deterministic for ``centroid_method='first'`` (both the coarse
    quantizer and the PQ codebooks seed from the first vectors by id),
    so the DuckDB oracle replays it end-to-end.
    """
    centroids, assignments = ivf_assign(
        emb, n_centroids, id_col, vec_col, centroid_method
    )
    codebooks = pq_codebooks(emb, m_sub, k_codes, dim, id_col, vec_col)
    codes = pq_encode(emb, codebooks, m_sub, dim, id_col, vec_col)
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pvec")
    )
    cand_ids = _probe_buckets(probes, centroids, nprobe).join(
        assignments.select("id", "cid"), "cid"
    ).filter(F.col("id") != F.col("probe_id")).select("probe_id", "id")
    psub = _subvectors(probes, "probe_id", "probe_id", "pvec", m_sub, dim)
    tables = _adc_tables(psub, codebooks)
    cand = cand_ids.join(codes, "id").join(F.broadcast(tables), "probe_id")
    return _adc_top_k(cand, m_sub, k)


def pq_codebooks_kmeans(
    emb: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame | None:
    """Production PQ codebooks: an independent k-means fit PER SUBSPACE.

    The 'first'-seeded :func:`pq_codebooks` is the lazy, oracle-exact
    path; real corpora want data-fitted sub-centroids (lower
    quantization error → better ADC ranking). This runs m_sub small
    MLlib fits, each over the corpus's d-dim subvector slice — the
    standard PQ training recipe. EAGER like :func:`kmeans_centroids`
    (each fit is a job); train on a sample at 100 TB (PQ training needs
    ~100k-1M vectors, not the corpus — ``emb.sample(...)`` upstream).
    Returns the same (m, k, cvec) shape as pq_codebooks so
    :func:`pq_encode`/:func:`pq_topk` consume either interchangeably;
    None if MLlib is unavailable.
    """
    spark = emb.sparkSession
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError:
        return None
    d = dim // m_sub
    src = ensure_parallelism(emb)
    rows = []
    for m in range(m_sub):
        feats = src.select(
            array_to_vector(
                F.slice(F.col(vec_col), m * d + 1, d).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k_codes, seed=seed + m, maxIter=max_iter).fit(feats)
        # order centers deterministically so (m, k) is stable run-to-run
        centers = sorted(
            ([float(x) for x in c] for c in model.clusterCenters())
        )
        rows.extend((m, k, c) for k, c in enumerate(centers))
    return spark.createDataFrame(rows, "m int, k int, cvec array<double>")


# --------------------------------------------------- replayable k-means


def kmeans_lloyd(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 1,
    dim: int = 64,
    quant: float = 1e6,
    train_max_id: int | None = None,
    checkpoint_iters: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Cross-engine-replayable Lloyd's k-means over (sub)vectors — the
    production ANN training step (IVF coarse quantizer when
    ``m_sub == 1``, per-subspace PQ codebooks when ``m_sub > 1``) as
    pure DataFrame ops with bit-deterministic arithmetic.

    Every input coordinate is quantized to a fixed-point grid
    (``floor(x * quant)`` — one IEEE multiply + floor, identical in any
    engine), so per-cluster sums are exact BIGINT arithmetic
    (order-insensitive, no float summation-order dependence), centroid
    updates are one exact BIGINT→DOUBLE cast + one IEEE division, and
    assignment distances are a sequential left fold over dimensions in
    index order (F.aggregate, matching DuckDB's list_reduce). The whole
    fit is therefore exactly replayable by a SQL oracle that unrolls
    the same ``n_iter`` Lloyd steps — see
    queries/pipeline_queries.py:_kmeans_lloyd_oracle. The 1e-6 grid is
    far finer than PQ's usual 8-bit codes, so training quality is
    unaffected.

    Init is first-``n_centroids``-by-id per subspace (deterministic,
    lazy — same convention as ``ivf_assign('first')``). Empty clusters
    drop out of the centroid frame (both engines replay that
    identically). Ties in distance break toward the lower cid.

    Scale shape (100 TB): per iteration, ONE broadcast join (centroids
    are k*m rows) + ONE (id, m)-window argmin + ONE hash shuffle on
    (m, cid, dim) with map-side-combinable sums — the same exchange
    shape as MLlib's Lloyd, with nothing driver-side. ``n_iter`` is a
    fixed small constant; production would cache the quantized input
    between iterations (here the plan re-reads the scan, which AQE
    dedups at this scale) and train on a sample (k-means needs ~1M
    vectors, not the corpus).
    """
    d = dim // m_sub
    src = ensure_parallelism(emb).select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(quant)).cast("long"),
        ).alias("q"),
    )
    subs = src.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m_sub - 1)),
                lambda m: F.slice(F.col("q"), m * F.lit(d) + F.lit(1), d),
            )
        ).alias("m", "qv"),
    )
    # the quantize+posexplode pass feeds EVERY Lloyd iteration plus the
    # final full-frame assignment, and iteration plans do not share
    # subtrees — persist so it materializes once per job instead of
    # once per reference (the multi-reference-lineage seam)
    subs = keep(subs)

    # Production path: train the quantizer on a deterministic id-prefix
    # SAMPLE (k-means needs ~1M vectors, not the corpus), then assign
    # everything — the final _assign below always runs over the FULL
    # frame. train_max_id keeps the sample a pure function of the
    # input so the oracle replays it with one WHERE clause.
    subs_train = (
        subs.filter(F.col("id") < train_max_id)
        if train_max_id is not None
        else subs
    )
    cent = _top_k(
        subs_train, ["m"], ["id"], n_centroids,
        [
            "m",
            (F.col("rn") - 1).alias("cid"),
            F.transform("qv", lambda x: x.cast("double")).alias("cvec"),
        ],
    )

    def _assign(cent: DataFrame, frame: DataFrame = subs) -> DataFrame:
        scored = frame.join(F.broadcast(cent), "m").select(
            "id", "m", "qv", "cid", _l2sq("qv", "cvec").alias("dist")
        )
        return _top_k(
            scored, ["id", "m"], [F.col("dist").asc(), F.col("cid").asc()], 1,
            ["id", "m", "qv", "cid"],
        )

    def _update(assigned: DataFrame) -> DataFrame:
        per_dim = assigned.select(
            "m", "cid", F.posexplode("qv").alias("i", "x")
        )
        sums = per_dim.groupBy("m", "cid", "i").agg(
            F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
        )
        return sums.groupBy("m", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s", "n"))),
                lambda t: t.s.cast("double") / t.n.cast("double"),
            ).alias("cvec")
        )

    for _ in range(n_iter):
        # cent is k*m rows; the checkpoint stops iteration r+1's plan
        # from nesting (and re-running) iterations 1..r — the same
        # iteration-hygiene seam as the MMR greedy rounds. eager=False
        # keeps this operator's documented build-time laziness (query
        # registries construct the plan without running jobs); the
        # checkpoint still materializes exactly once, at the first
        # action, and every consumer shares it (the pack_sequences
        # idiom). checkpoint_iters=False exposes the full update plan
        # (the plan test pins the partial-sum exchange shape there).
        cent = _update(_assign(cent, subs_train))
        if checkpoint_iters:
            cent = checkpoint(cent, eager=False)
    return cent, _assign(cent).select("id", "m", "cid")


# --------------------------------------------------- ANN quality audit


def ann_recall(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF ANN tier against exact brute-force top-k —
    the measurement loop every production ANN deployment runs before
    trusting an index ("measure, don't guess" applied to the index's
    own quality knobs: n_centroids, nprobe).

    Returns one row per probe: (probe_id, n_exact, n_approx,
    n_overlap, recall_at_k). All counts are exact integers; recall is
    the single division n_overlap / k.

    100 TB shape: the exact side is the deliberate audit cost — run it
    on a SAMPLED probe set (hundreds of probes), never the corpus; the
    approx side is the cheap nprobe-bucketed search being audited.
    Both sides shuffle only (probe_id, id_b) candidate rows into the
    count joins.
    """
    exact = cosine_topk(emb, probe_filter, k, id_col, vec_col).select(
        "probe_id", "id_b"
    )
    approx = ivf_topk(
        emb,
        probe_filter,
        k=k,
        n_centroids=n_centroids,
        nprobe=nprobe,
        centroid_method="first",
        id_col=id_col,
        vec_col=vec_col,
    ).select("probe_id", "id_b")
    base = exact.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_exact"))
    ap = approx.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_approx"))
    hits = (
        exact.join(approx, ["probe_id", "id_b"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        base.join(ap, "probe_id", "left")
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0).cast("long")).alias("n_approx"),
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).cast("double")
                / F.lit(float(k))
            ).alias("recall_at_k"),
        )
    )


# ------------------------------------------------- scalar quantization
# (SQ, int8-style)


def sq_bounds(
    emb: DataFrame, dim: int = 64, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus, as two ``dim``-length
    Python lists of exact doubles.

    One posexplode + groupBy(dim) pass — map-side combinable, ``dim``
    groups total, so the exchange carries at most
    ``partitions × dim`` rows regardless of corpus size; the collect is
    bounded at ``dim`` rows by construction (same driver-side pattern as
    operators/layout.py bounds agg). min/max of floats cast to double is
    exact (no accumulation), so both engines see identical bounds.
    """
    stats = (
        ensure_parallelism(emb)
        .select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.min(F.col("v").cast("double")).alias("lo"),
            F.max(F.col("v").cast("double")).alias("hi"),
        )
    )
    rows = {int(r["pos"]): (r["lo"], r["hi"]) for r in stats.collect()}
    if len(rows) != dim:
        raise ValueError(f"sq_bounds: expected {dim} dims, saw {len(rows)}")
    lo = [rows[i][0] for i in range(dim)]
    hi = [rows[i][1] for i in range(dim)]
    return lo, hi


def sq_quantize(vec: Column, lo: list[float], hi: list[float]) -> Column:
    """Quantize a float vector to uint8 codes (array<int> in [0, 255]).

    ``q[i] = clamp(floor((v[i] - lo[i]) / ((hi[i] - lo[i]) / 255)), 0,
    255)``; a constant dimension (hi == lo) maps to 0. All arithmetic is
    double-precision IEEE with a fixed op order, so any engine
    evaluating the same formula (the DuckDB oracle does) produces the
    same integer codes — the float→int boundary is where cross-engine
    drift would bite, and floor() of bit-identical doubles removes it.

    100 TB: SQ shrinks a float32 corpus 4× and turns ranking into
    integer dot products; bounds are a broadcastable 2×dim literal —
    this is the cheapest ANN compression tier (below PQ's 16-32×).
    """
    lo_a = F.array(*[F.lit(float(x)) for x in lo])
    hi_a = F.array(*[F.lit(float(x)) for x in hi])
    return F.transform(
        vec,
        lambda v, i: F.when(
            F.element_at(hi_a, i + 1) == F.element_at(lo_a, i + 1), F.lit(0)
        ).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (v.cast("double") - F.element_at(lo_a, i + 1))
                        / (
                            (
                                F.element_at(hi_a, i + 1)
                                - F.element_at(lo_a, i + 1)
                            )
                            / F.lit(255.0)
                        )
                    ).cast("int"),
                ),
            )
        ),
    )


def _int_dot(a: Column | str, b: Column | str) -> Column:
    """BIGINT dot product of two SQ code arrays — exact integer
    arithmetic, so order-insensitive."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sq_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k neighbors by quantized integer dot product.

    Corpus and probes are quantized with the same per-dimension bounds;
    similarity is the BIGINT dot product of the code arrays (exact
    integer arithmetic — order-insensitive, no float ranking ties).
    Returns (probe_id, id_b, score_q, rnk), rnk ≤ k, ties to smaller
    id_b.

    100 TB shape: bounds are one bounded-output pass; the scan streams
    the corpus ONCE past the broadcast probes (same shape as
    cosine_topk) but on 4×-smaller data with integer ALU ops; the only
    shuffle carries candidate rows into the per-probe top-k window.
    SQ compresses but does not BOUND the scan — for a 100× corpus
    compose with IVF bucketing instead (:func:`ivf_sq_topk`, the FAISS
    ``IVFx,SQ8`` tier), which ranks only nprobe buckets per probe.
    """
    n_corpus = emb.count()
    lo, hi = sq_bounds(emb, dim=dim, vec_col=vec_col)
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        sq_quantize(F.col(vec_col), lo, hi).alias("qa"),
    )
    corpus = ensure_parallelism(emb).select(
        F.col(id_col).alias("id_b"),
        sq_quantize(F.col(vec_col), lo, hi).alias("qb"),
    )
    pairs = (
        F.broadcast(probes)
        .crossJoin(corpus)
        .filter(F.col("probe_id") != F.col("id_b"))
        .select("probe_id", "id_b", _int_dot("qa", "qb").alias("score_q"))
    )
    return _top_k(
        pairs, ["probe_id"], [F.col("score_q").desc(), F.col("id_b")], k,
        ["probe_id", "id_b", "score_q", "rnk"], rank="rnk", n_rows=n_corpus,
    )


def ivf_sq_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_method: str = "kmeans",
    prebuilt: tuple | None = None,
) -> DataFrame:
    """IVF bucket restriction + scalar-quantized integer ranking — the
    FAISS ``IVFx,SQ8`` tier. Closes the gap of :func:`sq_topk`: SQ alone compresses the scan 4x but still touches
    every corpus vector per probe; composed with IVF, each probe ranks
    only its ``nprobe`` buckets (~nprobe/n_centroids of the corpus) AND
    does so on uint8 codes with BIGINT dot products.

    Plan shape: bounds (one bounded posexplode pass) -> coarse assign
    (broadcast centroids, one corpus pass) -> probe-bucket choice
    (broadcast x broadcast) -> candidate equi-join ON cid with the
    tiny (|probes| x nprobe) bucket frame BROADCAST, so the corpus
    never shuffles for candidate selection -> per-probe top-k window,
    the only exchange, carrying candidate rows only. No cartesian
    against the corpus anywhere.

    Determinism: same replayable contracts as the parents — cosine
    coarse assignment uses the sequential-fold double convention, SQ
    codes are floor() of bit-identical doubles, ranking is pure integer
    with ties to smaller ``id_b``. Returns (probe_id, id_b, score_q,
    rnk), rnk <= k.
    """
    lo, hi = sq_bounds(emb, dim=dim, vec_col=vec_col)
    if prebuilt is not None:
        # Index build (coarse assignment = one corpus x n_centroids
        # pass) amortizes across queries in production, so a query
        # path that rebuilds per call throws the IVF win away. Pass
        # (centroids, assignments) from ivf_assign, built once and
        # persisted.
        centroids, assignments = prebuilt
    else:
        centroids, assignments = ivf_assign(
            emb, n_centroids, id_col, vec_col, centroid_method
        )
    corpus = assignments.select(
        "cid",
        F.col("id").alias("id_b"),
        sq_quantize(F.col("vec"), lo, hi).alias("qb"),
    )
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("pvec"),
        sq_quantize(F.col(vec_col), lo, hi).alias("qa"),
    )
    cand = (
        F.broadcast(_probe_buckets(probes, centroids, nprobe, "qa"))
        .join(corpus, "cid")
        .filter(F.col("probe_id") != F.col("id_b"))
        .select("probe_id", "id_b", _int_dot("qa", "qb").alias("score_q"))
    )
    return _top_k(
        cand, ["probe_id"], [F.col("score_q").desc(), F.col("id_b")], k,
        ["probe_id", "id_b", "score_q", "rnk"], rank="rnk",
    )


def mmr_diversified_topk(
    emb: DataFrame,
    n_probe_ids: int = 4,
    n_cand: int = 10,
    k: int = 5,
    lam: float = 0.75,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the retrieval-diversity primitive RAG rerankers
    use: greedily pick the candidate maximizing
    ``λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)``, so near-duplicate
    results can't crowd the cut even when they dominate raw similarity.

    Fixed-round formulation (k unrolled greedy rounds over the
    n_cand-candidate pool) so a SQL oracle replays every selection —
    the kmeans/pagerank/kcore unrolling technique applied to greedy
    subset selection. λ defaults to 0.75 (an EXACT binary fraction, as
    is 1−λ = 0.25) so the mmr score is two exact-constant multiplies
    and one subtract over the bit-portable cosine folds — identical
    doubles in both engines, tiebroken by id.

    100 TB shape: the candidate pool per probe is n_cand rows (here
    from the exact tier; swap in any ANN tier — multiprobe, IVF+SQ —
    for corpus-scale candidate generation), so the k rounds and the
    n_cand² pairwise-sim frame are probe-bounded work, independent of
    corpus size after candidate generation.
    """
    probes = emb.filter(F.col(id_col) < n_probe_ids).select(
        F.col(id_col).alias("probe_id"), *normed(vec_col, "ea", "na")
    )
    allv = emb.select(F.col(id_col).alias("id_b"), *normed(vec_col, "eb", "nb"))
    # probe side is n_probe_ids rows by construction — broadcast so the
    # labeled exact tier can never plan a shuffle cross
    scored = (
        F.broadcast(probes).crossJoin(allv)
        .filter(F.col("id_b") != F.col("probe_id"))
        .select(
            "probe_id", "id_b", "eb",
            cosine("ea", "eb", "na", "nb").alias("simq"),
        )
    )
    cand = _top_k(scored, ["probe_id"], [F.desc("simq"), F.col("id_b")], n_cand)
    return mmr_from_candidates(cand, k=k, lam=lam)


def mmr_from_candidates(
    cand: DataFrame,
    k: int = 5,
    lam: float = 0.75,
) -> DataFrame:
    """The MMR greedy rounds over an ALREADY-GENERATED candidate pool
    ``(probe_id, id_b, eb, simq)`` — the composition seam
    :func:`mmr_diversified_topk` documents: candidate generation is
    swappable (exact tier, multiprobe LSH, IVF+SQ...), the k unrolled
    rounds and the n_cand² pairwise-sim frame are pool-bounded either
    way. Returns (probe_id, rank, id_b, simq)."""
    cand = keep(cand)
    cc = keep(
        cand.alias("x")
        .join(cand.alias("y"), "probe_id")
        .filter(F.col("x.id_b") != F.col("y.id_b"))
        .select(
            "probe_id",
            F.col("x.id_b").alias("ca"),
            F.col("y.id_b").alias("cb"),
            cosine("x.eb", "y.eb").alias("sim_cc"),
        )
    )
    sel = None
    remaining = cand.select("probe_id", "id_b", "simq")
    for r in range(1, k + 1):
        if sel is None:
            scored = remaining.withColumn("mmr", F.col("simq") * F.lit(lam))
        else:
            mx = (
                cc.join(
                    sel.select("probe_id", F.col("id_b").alias("cb")),
                    ["probe_id", "cb"],
                )
                .groupBy("probe_id", F.col("ca").alias("id_b"))
                .agg(F.max("sim_cc").alias("maxsel"))
            )
            scored = remaining.join(mx, ["probe_id", "id_b"], "left").withColumn(
                "mmr",
                F.col("simq") * F.lit(lam)
                - F.coalesce(F.col("maxsel"), F.lit(0.0)) * F.lit(1.0 - lam),
            )
        # Eager localCheckpoint per round: round r's pick feeds BOTH the
        # next round's max-sim-to-selected join (via sel) and the
        # remaining-pool anti-join, so without materialization the final
        # plan nests every earlier round's subtree exponentially. Each
        # pick is n_probes rows; k tiny jobs beat one exponential one.
        pick = checkpoint(
            _top_k(
                scored, ["probe_id"], [F.desc("mmr"), F.col("id_b")], 1,
                ["probe_id", "id_b", "simq"],
            )
            .withColumn("rank", F.lit(r))
        )
        sel = pick if sel is None else sel.unionByName(pick)
        remaining = remaining.join(
            pick.select("probe_id", "id_b"), ["probe_id", "id_b"], "left_anti"
        )
    return sel.select("probe_id", "rank", "id_b", "simq")
