"""Corpus-preparation operators for LLM training-data pipelines:
document chunking, sequence packing, deterministic per-key sampling.

These are the steps between "cleaned corpus" (dedup.py, functions/
text.py) and "training batches": split long documents into model-sized
chunks, pack the token stream into fixed-budget sequences, and draw
reproducible samples for eval/holdout. All three are built on
hash-derived total orders (md5, engine-portable) so every run — and the
DuckDB oracle — produces byte-identical output; none of them collects
to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chapterhouseqe_spark.operators.guards import (
    CANDIDATE_MASS_BUDGET,
    check_candidate_mass,
)
from chapterhouseqe_spark.session import checkpoint, keep


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap.

    Chunk ``i`` covers ``[i*(size-overlap), i*(size-overlap)+size)``;
    the last chunk may be short. Runs as one explode inside the scan
    stage — no shuffle, no Python. Output: the id column, ``chunk_id``,
    ``chunk_start`` (0-based), ``chunk_text``.
    """
    if size <= overlap:
        raise ValueError("size must exceed overlap")
    step = size - overlap
    n = F.greatest(
        F.lit(1),
        F.ceil((F.length(F.col(text_col)) - F.lit(overlap)) / F.lit(step)),
    ).cast("int")
    return (
        df.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n - F.lit(1))))
        .withColumn("chunk_start", F.col("chunk_id") * F.lit(step))
        .withColumn(
            "chunk_text",
            F.substring(F.col(text_col), F.col("chunk_start") + F.lit(1), size),
        )
        .select(id_col, "chunk_id", "chunk_start", "chunk_text")
    )


def chunk_token_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Split documents into fixed-TOKEN windows with configurable
    stride — the RAG/serving-side chunker (r10 verdict item 5), the
    token-unit sibling of the character-unit :func:`chunk_documents`.

    Tokenization is the engine-wide whitespace discipline
    (``functions/text.py``: ``split(trim(text), '\\s+')``), evaluated
    ONCE per row into a select boundary so the window slices never
    re-tokenize (the CollapseProject per-element rescan trap,
    PLANS.md round-8). Chunk ``i`` covers tokens
    ``[i*stride, i*stride + size)``; the chunk count is
    ``1 + ceil((n_tokens - size) / stride)`` (integer form, no float
    ceil), so the last window always reaches the end of the document
    and no window starts past it.

    Output per chunk: the id column, ``chunk_idx`` (0-based, stable),
    ``tok_start``, ``n_tokens`` (= size except the final partial
    window), ``char_start`` — the chunk's character offset in the
    single-space-NORMALIZED text (tokens joined by one space; offsets
    into raw text would be ill-defined under run-length whitespace) —
    and ``chunk_text`` (the normalized window).

    100 TB shape: a pure narrow projection + explode inside the scan
    stage — ZERO shuffles, no UDF; Spark parallelism is by document.
    Cost note: ``char_start``/``chunk_text`` each slice-and-join a
    token prefix per chunk, so a document costs
    O(n_tokens²/stride) bytes of memcpy — negligible for web-page
    docs (≤10⁴ tokens), and for book-length inputs raise ``stride``
    or chunk a pre-split page table instead.
    """
    if stride <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size (windows must cover)")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    d = df.select(F.col(id_col), toks.alias("_tk"))
    n = F.size(F.col("_tk"))
    nc = (
        F.when(n <= size, F.lit(1))
        .otherwise(
            F.lit(1) + F.floor((n - size + (stride - 1)) / F.lit(stride))
        )
        .cast("int")
    )
    ch = d.select(
        id_col,
        "_tk",
        F.explode(F.sequence(F.lit(0), nc - F.lit(1))).alias("chunk_idx"),
    )
    ts = F.col("chunk_idx") * F.lit(stride)
    nn = F.size(F.col("_tk"))
    return ch.select(
        id_col,
        "chunk_idx",
        ts.cast("bigint").alias("tok_start"),
        F.least(F.lit(size), nn - ts).cast("bigint").alias("n_tokens"),
        F.when(ts == 0, F.lit(0))
        .otherwise(
            F.length(F.array_join(F.slice(F.col("_tk"), F.lit(1), ts), " "))
            + F.lit(1)
        )
        .cast("bigint")
        .alias("char_start"),
        F.array_join(
            F.slice(F.col("_tk"), ts + F.lit(1), F.lit(size)), " "
        ).alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str = "doc_id",
    budget: int = 2048,
) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence.

    The streaming concat-and-chop formulation of sequence packing (the
    standard pretraining shape: concatenate documents in a fixed order,
    cut every ``budget`` tokens): documents are totally ordered by an
    md5 shuffle key, the running token total is computed, and a document
    belongs to sequence ``floor(tokens_before_it / budget)``.

    Scale shape — the naive ``Window.orderBy(key)`` global cumsum is a
    single-task bottleneck; this uses the two-phase formulation instead:
    range-repartition on the shuffle key, per-partition cumsums (window
    WITH a partition key, fully parallel), then add per-partition offsets
    computed from partition totals (a partition-count-sized frame,
    broadcast back). The result is identical for any partition boundaries
    because the order is total.

    Output: ``id_col``, ``seq_id``, ``tokens_before`` (global exclusive
    cumsum). Deterministic across runs and engines.
    """
    k = F.concat(
        F.md5(F.col(id_col).cast("string")), F.col(id_col).cast("string")
    )
    ranged = (
        df.select(F.col(id_col), F.col(token_col).alias("__tok"))
        .withColumn("__k", k)
        .repartitionByRange(F.col("__k"))
        .withColumn("__pid", F.spark_partition_id())
    )
    # ``ranged`` feeds TWO branches (per-partition cumsum + partition
    # totals) that are later joined on __pid. Both branches MUST see the
    # same physical partitioning: repartitionByRange samples the input
    # to pick boundaries and spark_partition_id is evaluation-dependent,
    # so two independent instantiations of the plan (e.g. under AQE
    # re-planning or differing scan splits) could assign different pids
    # and silently misalign the offsets. localCheckpoint materializes
    # the ranged frame ONCE; both branches then read the same blocks.
    # (eager=False keeps it lazy — it still materializes exactly once,
    # at the first action, and both branches share it.)
    ranged = checkpoint(ranged, eager=False)
    in_part = Window.partitionBy("__pid").orderBy("__k")
    local = ranged.withColumn(
        "__local_before",
        F.coalesce(
            F.sum("__tok").over(in_part.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    totals = ranged.groupBy("__pid").agg(F.sum("__tok").alias("__ptot"))
    # exclusive prefix sum over the partition-count-sized totals frame
    # via triangular join instead of a partitionless window — totals is
    # tiny (one row per shuffle partition), but keeping WindowExec's
    # "no partition defined" warning out of the plan means any such
    # warning in bench logs is a REAL full-data window regression.
    offsets = (
        totals.alias("a")
        .join(
            totals.select(
                F.col("__pid").alias("__opid"), F.col("__ptot").alias("__optot")
            ).alias("b"),
            F.col("__opid") < F.col("a.__pid"),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("__optot"), F.lit(0)).alias("__offset"))
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn("tokens_before", F.col("__local_before") + F.col("__offset"))
        .withColumn(
            "seq_id", F.floor(F.col("tokens_before") / F.lit(budget)).cast("long")
        )
        .select(id_col, "seq_id", "tokens_before")
    )


def pack_sequences_nosplit(
    df: DataFrame,
    key_col: str,
    size_col: str,
    id_col: str = "doc_id",
    capacity: int = 2048,
) -> DataFrame:
    """Bin-pack documents into fixed-capacity sequences WITHOUT
    splitting any document — the doc-integrity counterpart to
    :func:`pack_sequences`' concat-and-chop (chop maximizes fill but
    cuts documents mid-stream; no-split keeps attention windows clean
    at the cost of tail padding — both are standard pretraining modes).

    Next-fit discipline per ``key_col`` group (deterministic doc_id
    order): a document opens a new sequence iff the current one cannot
    hold it; an over-capacity document occupies a sequence alone. The
    fold (fill, seq_idx) is a genuine sequential recurrence — leftover
    capacity RESETS at each overflow, so no window cumsum expresses it
    (contrast pack_sequences, whose chop rule is a pure prefix sum) —
    so it runs in the honest seam: ONE shuffle on the key, then each
    group folds inside its own Arrow batch (``applyInPandas``),
    parallel across keys exactly like the recurrence family
    (operators/temporal.py). Integer state only — bit-portable against
    a recursive-CTE oracle by construction.

    Output: ``key_col``, ``id_col``, ``n_tokens``, ``seq_idx`` (0-based
    per key), ``offset`` (fill before this doc).
    """
    import pandas as pd
    from pyspark.sql import types as T

    # key/id dtypes pass through from the input (r9 ADVICE: hardcoding
    # StringType/LongType broke any caller with e.g. an int key or a
    # string id at Arrow conversion despite the generic API).
    out_schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("seq_idx", T.LongType()),
            T.StructField("offset", T.LongType()),
        ]
    )
    cap = int(capacity)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        fill = 0
        seq = 0
        seqs, offs = [], []
        first = True
        for n in pdf["__n"].tolist():
            if not first and fill + n > cap:
                seq += 1
                fill = 0
            first = False
            offs.append(fill)
            seqs.append(seq)
            fill += n
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                id_col: pdf[id_col],
                "n_tokens": pdf["__n"],
                "seq_idx": seqs,
                "offset": offs,
            }
        )

    return (
        df.select(
            key_col, id_col, F.col(size_col).cast("long").alias("__n")
        )
        .groupBy(key_col)
        .applyInPandas(fold, out_schema)
    )


def sample_per_key(
    df: DataFrame,
    keys: list[str],
    n: int,
    id_col: str,
) -> DataFrame:
    """Deterministic sample of ``n`` rows per key group.

    Rows are ranked by md5 of the id (a reproducible shuffle — no RNG
    state, no seed plumbing, identical in any engine) and the first
    ``n`` per key kept. One hash shuffle on ``keys``; skewed groups cost
    what any window over them costs, and the rank cuts them to ``n``
    rows before anything downstream runs.
    """
    w = Window.partitionBy(*keys).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_priority_sample(
    df, weight_col: str, id_col: str, k: int = 50
):
    """Deterministic weighted sample of ``k`` rows, selection odds
    increasing with ``weight_col`` — the data-mixing primitive (sample
    a corpus proportionally to per-document importance) with md5-seeded
    priorities instead of an RNG so any engine replays the exact
    sample.

    priority = u48 / weight, where u48 is the first 48 bits of
    md5("w:" + id) — 48 so the integer is EXACT in a double, making the
    single IEEE division the only float op (bit-identical everywhere).
    Smallest k priorities win: doubling a row's weight halves its
    priority, so expected selection odds scale with weight (the
    priority-sampling shape of Efraimidis-Spirakis, with the uniform
    kept linear rather than exponentiated for cross-engine exactness).

    100 TB shape: priorities are a narrow projection; the top-k is
    TakeOrderedAndProject (per-partition heads + driver merge of k),
    never a global sort.
    """

    u48 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("w:"), F.col(id_col).cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    pri = u48.cast("double") / F.col(weight_col).cast("double")
    return (
        # weight <= 0 / NULL rows are excluded OUTRIGHT: u48/0 is NULL
        # and engines disagree on NULL sort placement (Spark NULLS
        # FIRST vs DuckDB ROW_NUMBER NULLS LAST), and a zero-weight row
        # has no meaningful selection odds anyway.
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), pri.alias("priority"))
        .orderBy("priority", id_col)
        .limit(k)
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    n_shards: int = 64,
) -> DataFrame:
    """Reproducible training-order shuffle: assign every document a
    (shard, position) for the given epoch, purely from
    ``md5(epoch:id)`` — the deterministic global shuffle a training
    run needs so that run N and its restart read byte-identical batch
    order, and different epochs decorrelate (a fresh permutation per
    epoch without materializing one).

    Returns ``(id_col, shard, pos)``; ``shard`` in [0, n_shards),
    ``pos`` the 1-based rank within the shard by the same hash (ties
    impossible: the hash input embeds the unique id).

    100 TB: ONE hash shuffle keyed on shard + a per-shard sort —
    choose ``n_shards`` so a shard (corpus/n_shards rows) fits an
    executor's sort buffer; the writer then emits one ordered file
    set per shard and a loader streams shards in index order. No
    global sort, no singleton window.
    """
    from chapterhouseqe_spark.queries.registry import md5_int

    key = md5_int(
        F.concat(
            F.lit(str(int(epoch))), F.lit(":"), F.col(id_col).cast("string")
        )
    )
    # id tie-breaker: the 60-bit key space birthday-collides around
    # 1e9 ids (≈0.4 expected collisions at 1B docs) — without it a
    # collision would make the within-shard order nondeterministic.
    w = Window.partitionBy("shard").orderBy("okey", id_col)
    return (
        df.select(F.col(id_col), key.alias("okey"))
        .withColumn("shard", F.pmod(F.col("okey"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(id_col, "shard", "pos")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    epoch: int,
    n_shards: int = 64,
) -> int:
    """Materialize :func:`epoch_shuffle`'s order as an actual training
    artifact: one parquet directory partitioned by ``shard=<i>``, rows
    within each shard written in position order — a loader streams
    ``shard=0..n-1`` in file order and reads the exact permutation
    `epoch_shuffle` assigned, restartably.

    Plan: join the (shard, pos) assignment back to the payload on
    ``id_col`` (one keyed shuffle), `repartition(n_shards, shard)` so
    each shard is one task's output file set, and
    ``sortWithinPartitions(pos)`` for the in-file order — no global
    sort. Returns ``n_shards``.
    """
    order = epoch_shuffle(df, id_col, epoch, n_shards)
    (
        df.join(order, id_col)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return n_shards


def novelty_curve(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10,
    k: int = 3,
) -> DataFrame:
    """Marginal n-gram novelty per corpus tranche — the
    diminishing-returns diagnostic for data collection ("is the next
    10% of crawl still contributing new content, or only duplicates?").

    Docs are split into ``buckets`` tranches by ingestion order
    (``id_col``); a k-shingle is NEW in the tranche where it first
    appears (min doc id over its occurrences). Returns one row per
    tranche: docs in the tranche, distinct shingles first seen there,
    the running cumulative vocabulary, and the per-doc novelty rate
    (the one double division; every aggregate is BIGINT-exact).

    100 TB shape: one explode + groupBy(shingle) shuffle computes
    first-occurrence (map-side combining min), then the result
    collapses to ``buckets`` rows — the cumulative window runs over
    ``buckets`` rows, not data. Tranche boundaries use the dense doc
    id directly; for non-dense ids substitute ``row_number`` over
    ingestion time at one extra sort.
    """
    from chapterhouseqe_spark.operators.dedup import with_shingles

    n_total = docs.count()
    sh = with_shingles(docs, text_col, id_col, k).select(
        "id", F.explode("shingles").alias("s")
    )
    first = sh.groupBy("s").agg(F.min("id").alias("first_id"))
    bkt = lambda c: F.expr(f"cast(({c} * {buckets}) div {n_total} as int)")
    new_per = first.select(bkt("first_id").alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("new_shingles")
    )
    docs_per = docs.select(bkt(id_col).alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_per.join(new_per, "bucket", "left")
        .withColumn("new_shingles", F.coalesce("new_shingles", F.lit(0)))
        .withColumn("cum_shingles", F.sum("new_shingles").over(w))
        .withColumn(
            "novelty_per_doc",
            F.col("new_shingles").cast("double") / F.col("n_docs").cast("double"),
        )
        .select("bucket", "n_docs", "new_shingles", "cum_shingles", "novelty_per_doc")
    )


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Pairwise content overlap between corpus SOURCES — the curation
    governance matrix ("which feeds are mirroring each other?") that
    doc-level dedup doesn't surface.

    For each unordered source pair: distinct k-shingles present in
    both, each side's distinct-shingle total, and the Jaccard overlap
    (one double division of exact integers). Mirrored feeds show high
    Jaccard before any doc-level near-dup fires, because the shared
    content is spread across many non-identical docs.

    100 TB shape: the corpus collapses FIRST to distinct
    (shingle, source) postings — |vocab|·|sources| rows, not token
    rows — then the pair expansion is bounded per shingle by
    C(sources, 2), a constant for real corpora (10s-100s of feeds),
    NOT by document count. One distinct shuffle + one pair-key
    aggregation; no joins against the corpus itself.
    """
    from chapterhouseqe_spark.operators.dedup import (
        ensure_parallelism,
        word_shingles,
    )

    # persist: three consumers (both self-join sides + sizes) would
    # otherwise each re-run the corpus explode + distinct
    posting = keep(
        ensure_parallelism(docs)
        .filter(F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= k)
        .select(
            F.col(source_col).alias("src"),
            F.explode(word_shingles(F.col(text_col), k)).alias("s"),
        )
        .distinct()
    )
    sizes = posting.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        posting.alias("a")
        .join(posting.alias("b"), "s")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared",
            "n_a",
            "n_b",
            (
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
    )


def source_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Per-SOURCE novelty attribution — "which feeds still contribute
    new content, which only re-serve what another feed already gave
    us?" — the per-feed version of :func:`novelty_curve` and the
    keep-crawling / drop-feed decision input.

    A k-shingle is credited to the source of the doc where it FIRST
    appears (min ``id_col`` over its occurrences — ingestion order, the
    same attribution rule the tranche curve uses, so numbers agree
    across the two reports). Returns per source: docs, total distinct
    shingles the source contains, the shingles it was FIRST to
    contribute, and the first-rate (one double division; everything
    else exact BIGINTs). A mirror feed shows total ≫ first.

    100 TB shape: one explode + groupBy(shingle) shuffle carrying
    (first doc id, source-of-first via min_by), one distinct posting
    pass for per-source totals, then a sources-sized join — no
    corpus-sized join anywhere.
    """
    from chapterhouseqe_spark.operators.dedup import (
        ensure_parallelism,
        word_shingles,
    )

    posting = keep(
        ensure_parallelism(docs)
        .filter(F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= k)
        .select(
            F.col(id_col).alias("id"),
            F.col(source_col).alias("src"),
            F.explode(word_shingles(F.col(text_col), k)).alias("s"),
        )
    )
    first = posting.groupBy("s").agg(
        F.expr("min_by(src, id)").alias("first_src")
    )
    first_per_src = first.groupBy(F.col("first_src").alias("src")).agg(
        F.count(F.lit(1)).alias("first_shingles")
    )
    totals = (
        posting.select("src", "s")
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("total_shingles"))
    )
    docs_per = docs.groupBy(F.col(source_col).alias("src")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        docs_per.join(totals, "src", "left")
        .join(first_per_src, "src", "left")
        .select(
            "src",
            "n_docs",
            F.coalesce("total_shingles", F.lit(0)).alias("total_shingles"),
            F.coalesce("first_shingles", F.lit(0)).alias("first_shingles"),
            (
                F.coalesce("first_shingles", F.lit(0)).cast("double")
                / F.coalesce("total_shingles", F.lit(1)).cast("double")
            ).alias("first_rate"),
        )
    )


def _ilog2(col: Column) -> Column:
    """floor(log2(n)) for a positive integer column, EXACTLY: the
    length of the binary string representation minus one. Float
    ``log2``/``ln`` diverge at 1 ulp between JVM and DuckDB libm
    (PLANS.md oracle-portability rules), but the binary string of an
    integer is the same everywhere (DuckDB twin: ``length(bin(n))-1``).
    """
    return F.length(F.conv(col.cast("string"), 10, 2)) - F.lit(1)


def dsir_hashed_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed n-gram features (DSIR, Xie et al. 2023 §3): each
    document's unigrams AND bigrams map to ``n_buckets`` buckets via
    the md5 hashing trick — the same constant-size no-vocabulary
    featurization as the hashing-trick classifier
    (``functions/text.py``), extended with bigrams exactly as the
    paper specifies. Output: one row per token occurrence,
    ``(id, *passthrough, b)`` with ``b`` in ``[0, n_buckets)``.
    ``passthrough`` carries per-doc flags (e.g. the DSIR target
    marker) through the explode so downstream never joins the token
    stream back to the documents — that join would shuffle the whole
    stream on the doc key for a boolean.

    100 TB shape: pure map-side — tokenize once, one ``zip_with`` for
    bigrams (null-padded tail filtered), one explode; no shuffle, no
    Python. Bucket counts downstream aggregate to a ``n_buckets``-row
    frame however large the corpus.
    """
    from chapterhouseqe_spark.queries.registry import md5_int

    ts = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    unis = F.filter(ts, lambda w: w != F.lit(""))
    # bigrams: token i paired with token i+1; zip_with pads the tail
    # with null and concat(null) propagates, so one filter drops it —
    # identical semantics to the DuckDB twin's list_zip + `||`.
    bis = F.filter(
        F.zip_with(
            ts,
            F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda w: w.isNotNull(),
    )
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in passthrough],
        F.explode(F.concat(unis, bis)).alias("w"),
    ).select(
        "id",
        *passthrough,
        F.pmod(md5_int(F.col("w")), F.lit(n_buckets)).alias("b"),
    )


def dsir_importance_resample(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    k: int = 25,
    n_buckets: int = 4096,
    clamp: int = 30,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): select raw-corpus documents whose hashed-n-gram
    profile looks like a TARGET distribution, by (1) fitting two
    bag-of-hashed-ngrams unigram models — target ``p`` from the rows
    where ``target_col`` is true, proposal ``q`` from the full corpus
    — (2) scoring every document with the log likelihood ratio
    ``log p(doc)/q(doc)``, and (3) sampling by importance weight
    through the existing :func:`weighted_priority_sample` seam.

    Bit-portability (the graded contract): the per-bucket log ratio is
    quantized to INTEGER base-2 logs — ``S = Σ_tokens [ilog2(ct_b+1) −
    ilog2(cq_b+1) + ilog2(Q+B) − ilog2(T+B)]`` with Laplace-smoothed
    bucket counts ``ct/cq`` and token totals ``T/Q`` — because a sum
    of libm ``ln`` terms diverges at 1 ulp between engines while
    ``floor(log2(int))`` is exact in both (:func:`_ilog2`). ``S`` is
    clamped to ``±clamp`` and the importance weight is ``2^S``, built
    by integer bit-shift and therefore EXACT as a double; the
    resulting priority ``u48 / 2^S`` is a single exponent-shifting
    IEEE division of exact values — bit-identical everywhere. The
    quantization is honest about resolution: weights live in power-of-
    two bands, which only coarsens DSIR's own noise floor (its hash
    binning and unigram independence assumptions are far blunter than
    a 2x weight band).

    Output: ``(id_col, s_quant, weight, priority)`` for the ``k``
    selected documents, deterministic across runs and engines.

    100 TB shape: one map-side featurization (``dsir_hashed_features``
    with the target flag passed THROUGH the explode — never a join of
    the token stream back to the documents), ONE bucket-keyed
    aggregation producing the ``n_buckets``-row model (both models in
    the same pass — counting target and proposal separately would
    double the shuffle) which collapses to the driver and broadcasts
    back onto the token stream as log-ratio literals; one doc-keyed
    aggregation; then top-k is TakeOrderedAndProject inside
    :func:`weighted_priority_sample` — never a global sort. Plan
    census: 2 scans, 2 exchanges, 0 shuffle joins. ``s_quant`` in the
    k-row output derives from the exact power-of-two weight rather
    than a second pass over the scoring lineage. The model is
    constant-size regardless of corpus size, exactly like the paper's.
    """
    fb = dsir_hashed_features(
        df, text_col, id_col, n_buckets, passthrough=(target_col,)
    )
    # MODEL PASS — one bucket-keyed aggregation computes both unigram
    # models (proposal count = all rows, target count = target rows),
    # then the <= n_buckets-row result collapses to the driver (the
    # dim-bounded-collect pattern: DSIR's model is constant-size by
    # construction, exactly like the paper's, so this is a few KB at
    # any corpus size). Folding the totals and integer log2s in Python
    # keeps the whole model to ONE exchange — leaving it distributed
    # cost a second scan of the corpus plus a single-partition totals
    # exchange (measured: 3 scans / 6 exchanges vs 2 / 2).
    cnt_rows = (
        fb.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cq"),
            F.sum(F.col(target_col).cast("long")).alias("ct"),
        )
        .collect()
    )
    q_tot = sum(r["cq"] for r in cnt_rows)
    t_tot = sum(r["ct"] or 0 for r in cnt_rows)
    # (n).bit_length()-1 == floor(log2(n)) exactly, same as _ilog2
    norm = (q_tot + n_buckets).bit_length() - (t_tot + n_buckets).bit_length()
    lb = df.sparkSession.createDataFrame(
        [
            (
                r["b"],
                ((r["ct"] or 0) + 1).bit_length()
                - (r["cq"] + 1).bit_length()
                + norm,
            )
            for r in cnt_rows
        ],
        "b long, l long",
    )
    s = (
        fb.join(F.broadcast(lb), "b")
        .groupBy("id")
        .agg(
            F.greatest(
                F.lit(-clamp), F.least(F.lit(clamp), F.sum("l"))
            )
            .cast("long")
            .alias("s_quant")
        )
    )
    # 2^S via integer bit-shift (exact; F.pow would round-trip through
    # libm). F.shiftleft only takes a literal bit count, so SQL expr:
    weight = F.expr(
        "CASE WHEN s_quant >= 0 THEN "
        "  CAST(shiftleft(CAST(1 AS BIGINT), CAST(s_quant AS INT))"
        "       AS DOUBLE) "
        "ELSE 1.0 / "
        "  CAST(shiftleft(CAST(1 AS BIGINT), CAST(-s_quant AS INT))"
        "       AS DOUBLE) END"
    )
    picked = weighted_priority_sample(
        s.select("id", weight.alias("weight")), "weight", "id", k=k
    )
    # weight is an exact power of two, so the quantized log-ratio is
    # recoverable without touching the scoring lineage again
    s_back = F.when(
        F.col("weight") >= 1.0,
        _ilog2(F.col("weight").cast("long")),
    ).otherwise(-_ilog2((F.lit(1.0) / F.col("weight")).cast("long")))
    return picked.select(
        F.col("id").alias(id_col),
        s_back.cast("long").alias("s_quant"),
        "weight",
        "priority",
    )


def _check_l1_bound(max_t: int) -> None:
    """Fail loudly before ``l1_scaled = Σ|ca·Tb − cb·Ta|`` (bounded by
    ``2·Ta·Tb``) can silently wrap BIGINT — Spark's non-ANSI long SUM
    does not error on overflow. Holds while ``max(T)² ≤ 2^62``, i.e.
    ~2.1e9 hashed tokens in the largest source."""
    if max_t * max_t > 2**62:
        raise ValueError(
            "source_divergence_matrix: largest source has "
            f"{max_t:,} hashed tokens; l1_scaled (bounded by 2*Ta*Tb) "
            "would overflow BIGINT past ~2.1e9 tokens/source. "
            "Downsample counts (e.g. per-mille) before crossing."
        )


def source_divergence_matrix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Pairwise TOTAL-VARIATION distance between the per-source
    hashed-n-gram token distributions — the drift diagnostic behind
    data-mixing decisions (two sources with TV ≈ 0 are redundant; a
    source far from every other is the diversity it claims to be).
    Uses the same hashed unigram+bigram featurization as DSIR
    (:func:`dsir_hashed_features`), so the "distribution" is the
    constant-size bucket histogram, not an unbounded vocabulary.

    Bit-portability: TV = L1/2 over normalized histograms involves
    per-bucket divisions, whose SUM is order-dependent in floats. The
    cross-multiplied integer form avoids all of it::

        L1_scaled(a,b) = Σ_i |ct_a(i)·T_b − ct_b(i)·T_a|
        tv = L1_scaled / (2·T_a·T_b)     (ONE double division)

    with the missing-bucket terms folded algebraically: the inner
    join covers buckets present in BOTH sources, and the a-only /
    b-only remainders are ``(T_a − S_a)·T_b`` and ``(T_b − S_b)·T_a``
    where ``S`` sums the shared-bucket counts — so no outer join is
    ever needed. Everything before the single division is exact
    BIGINT in both engines. (Magnitude note: ``l1_scaled`` is bounded
    by ``2·T_a·T_b``, so BIGINT holds only to ~2e9 tokens per source
    for near-disjoint pairs — ``2·(2.1e9)² ≈ 9.0e18 < 2^63``. Spark's
    non-ANSI long SUM wraps SILENTLY past that, so the operator
    fails loudly instead: a pre-pass asserts ``max(T)² ≤ 2^62`` and
    raises with the fix — downsample counts per-mille before
    crossing.)

    Output: one row per unordered source pair (src_a < src_b):
    ``(src_a, src_b, l1_scaled, tv)``.

    100 TB shape: one map-side featurization, ONE (source, bucket)
    aggregation (|sources|·n_buckets rows — KB-scale however large
    the corpus), then all pairing happens on that collapsed frame
    (broadcast self-join + a |pairs|-row aggregate). The corpus is
    scanned once.
    """
    fb = dsir_hashed_features(
        df, text_col, id_col, n_buckets, passthrough=(source_col,)
    )
    hist = keep(
        fb.groupBy(F.col(source_col).alias("src"), "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = hist.groupBy("src").agg(F.sum("c").cast("long").alias("t"))
    # Overflow guard (see magnitude note): l1_scaled ≤ 2·Ta·Tb must
    # fit BIGINT or Spark's non-ANSI long SUM wraps silently. The
    # totals frame is |sources| rows, so this pre-pass is one tiny
    # job over the already-persisted histogram.
    _check_l1_bound(tot.agg(F.max("t")).first()[0] or 0)
    a = (
        hist.join(F.broadcast(tot), "src")
        .select(
            F.col("src").alias("src_a"),
            "b",
            F.col("c").alias("ca"),
            F.col("t").alias("ta"),
        )
    )
    bb = (
        hist.join(F.broadcast(tot), "src")
        .select(
            F.col("src").alias("src_b"),
            "b",
            F.col("c").alias("cb"),
            F.col("t").alias("tb"),
        )
    )
    shared = (
        a.join(bb, "b")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta"))
            )
            .cast("long")
            .alias("sum_abs"),
            F.sum("ca").cast("long").alias("sa"),
            F.sum("cb").cast("long").alias("sb"),
        )
    )
    # every unordered pair appears, even with zero shared buckets
    # (TV = 1 — exactly the pairs a drift diagnostic must surface):
    # pair the |sources|-row totals frame and left-join the shared
    # stats, zero-filled.
    all_pairs = (
        tot.select(F.col("src").alias("src_a"), F.col("t").alias("ta"))
        .join(
            F.broadcast(
                tot.select(
                    F.col("src").alias("src_b"), F.col("t").alias("tb")
                )
            ),
            F.col("src_a") < F.col("src_b"),
        )
        .join(shared, ["src_a", "src_b"], "left")
        .fillna(0, subset=["sum_abs", "sa", "sb"])
    )
    l1 = (
        F.col("sum_abs")
        + (F.col("ta") - F.col("sa")) * F.col("tb")
        + (F.col("tb") - F.col("sb")) * F.col("ta")
    ).cast("long")
    return all_pairs.select(
        "src_a",
        "src_b",
        l1.alias("l1_scaled"),
        (
            l1.cast("double")
            / (F.lit(2).cast("long") * F.col("ta") * F.col("tb")).cast(
                "double"
            )
        ).alias("tv"),
    )


def token_coverage_curve(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (1, 2, 4, 8, 16, 32),
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size ``k``,
    the fraction of the corpus's total token mass covered by the ``k``
    most frequent tokens — the statistic behind tokenizer vocab-size
    planning (where the coverage curve flattens is where additional
    vocab entries stop paying for their embedding rows; everything
    past the knee lands in OOV/byte-fallback).

    Ranking discipline: global token rank comes from the same
    two-phase shape as :func:`pack_sequences` — range-repartition the
    aggregated (token, count) frame on the rank order, per-partition
    row_number (a window WITH a partition key, fully parallel), then
    add broadcast per-partition row-count offsets. No partitionless
    window ever touches the vocabulary frame, so the operator holds at
    a 10⁸-type vocabulary where ``Window.orderBy(count)`` would funnel
    every row through one task. Ties break (count DESC, token ASC) —
    deterministic in both engines.

    Output: one row per k — ``(k, covered_tokens, total_tokens,
    coverage)``; coverage is the ONE double division.

    100 TB shape: one scan, one (token) hash aggregation, one range
    exchange over the COLLAPSED vocab frame (KB-to-GB however large
    the corpus), a broadcast offsets join, and a single-row
    conditional-sum aggregate reshaped to long form map-side.
    """
    toks = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("tok")
    freq = df.select(toks).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    ranged = (
        freq.repartitionByRange(F.col("c").desc(), F.col("tok"))
        .withColumn("__pid", F.spark_partition_id())
    )
    # both branches (per-partition ranks + partition row counts) must
    # see the same physical partitioning — same localCheckpoint
    # rationale as pack_sequences
    ranged = checkpoint(ranged, eager=False)
    in_part = Window.partitionBy("__pid").orderBy(
        F.col("c").desc(), F.col("tok")
    )
    local = ranged.withColumn("__lr", F.row_number().over(in_part))
    totals = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    offsets = (
        totals.alias("a")
        .join(
            totals.select(
                F.col("__pid").alias("__opid"), F.col("__n").alias("__on")
            ).alias("b"),
            F.col("__opid") < F.col("a.__pid"),
            "left",
        )
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("__on"), F.lit(0)).alias("__off"))
    )
    ranked = local.join(F.broadcast(offsets), "__pid").withColumn(
        "r", F.col("__lr") + F.col("__off")
    )
    aggs = [F.sum("c").cast("long").alias("__tot")] + [
        F.coalesce(F.sum(F.when(F.col("r") <= k, F.col("c"))), F.lit(0))
        .cast("long")
        .alias(f"__k{k}")
        for k in ks
    ]
    row = ranked.agg(*aggs)
    pairs: list[Column] = []
    for k in ks:
        pairs += [F.lit(k).cast("bigint"), F.col(f"__k{k}")]
    return (
        row.select(
            F.col("__tot"),
            F.explode(F.create_map(*pairs)).alias("k", "covered_tokens"),
        )
        .select(
            "k",
            "covered_tokens",
            F.col("__tot").alias("total_tokens"),
            (
                F.col("covered_tokens").cast("double")
                / F.col("__tot").cast("double")
            ).alias("coverage"),
        )
    )


def context_overflow_report(
    df: DataFrame,
    text_col: str = "text",
    contexts: tuple[int, ...] = (16, 32, 64, 128),
) -> DataFrame:
    """Context-window overflow report: for each candidate context
    length, how many documents exceed it and how much token mass a
    hard truncation at that length would discard — the
    context-length-planning twin of :func:`token_coverage_curve`
    (what chunking/packing budgets cost in practice is exactly this
    truncated mass).

    Output: one row per context — ``(ctx, docs_over, truncated_tokens,
    total_docs, total_tokens, truncated_share)``; the share is the ONE
    double division.

    100 TB shape: ONE scan, a single conditional-sum aggregate (one
    exchange to a single row), reshaped to long form map-side — the
    whole report is a map-combine regardless of corpus size.
    """
    n = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    d = df.select(n.alias("__n"))
    aggs = [
        F.count(F.lit(1)).alias("__docs"),
        F.sum("__n").cast("long").alias("__tot"),
    ]
    for c in contexts:
        aggs += [
            F.coalesce(
                F.sum(F.when(F.col("__n") > c, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"__o{c}"),
            F.coalesce(
                F.sum(F.greatest(F.col("__n") - F.lit(c), F.lit(0))),
                F.lit(0),
            )
            .cast("long")
            .alias(f"__t{c}"),
        ]
    row = d.agg(*aggs)
    # long-form reshape via ONE explode on the single agg row — a
    # unionAll of per-context selects would re-instantiate the
    # aggregation per leg and re-scan the corpus |contexts| times
    # (measured: 4 scans / 4 exchanges vs 1 / 1 here)
    legs = F.array(
        *[
            F.struct(
                F.lit(c).cast("bigint").alias("ctx"),
                F.col(f"__o{c}").alias("docs_over"),
                F.col(f"__t{c}").alias("truncated_tokens"),
            )
            for c in contexts
        ]
    )
    return (
        row.select(
            F.col("__docs"),
            F.col("__tot"),
            F.explode(legs).alias("leg"),
        )
        .select(
            F.col("leg.ctx").alias("ctx"),
            F.col("leg.docs_over").alias("docs_over"),
            F.col("leg.truncated_tokens").alias("truncated_tokens"),
            F.col("__docs").alias("total_docs"),
            F.col("__tot").alias("total_tokens"),
            (
                F.col("leg.truncated_tokens").cast("double")
                / F.col("__tot").cast("double")
            ).alias("truncated_share"),
        )
    )


def _check_budget_bound(mx: int, den: int, budget_multiple: int) -> None:
    """Fail loudly before ANY of the plan's long intermediates can
    silently wrap BIGINT — Spark's non-ANSI long arithmetic does not
    error on overflow. ``budget_multiple * (mx + 2) * den`` bounds
    all three (ADVICE r11: the original guard only covered the
    second div-mod term and ignored the multiplier):

    - the budget ``B = m * sum(A)`` itself: each source's
      ``A_s <= (w_s+1)^2 - 1 = w_s^2 + 2*w_s``, so
      ``sum(A) <= (mx + 2) * W`` and ``B <= m * (mx + 2) * W``;
    - the first split term ``w * (B div W) <= mx * m * (mx + 2)``
      — ``<= m * (mx + 2) * W`` since ``mx <= W``;
    - the second split term ``w * (B mod W) < mx * W``.

    Holds to ~1e15 total tokens at ``budget_multiple=2`` and
    realistic source-count/skew mixes; a large user-passed multiple
    now tightens the bound instead of slipping past it."""
    if budget_multiple * (mx + 2) * den > 2**62:
        raise ValueError(
            "token_budget_plan: budget_multiple * (max(weight_num)+2) "
            f"* sum(weight_num) = {budget_multiple:,} * {mx + 2:,} * "
            f"{den:,} exceeds 2^62 — the budget or the div-mod "
            "split's intermediates would overflow int64 (corpus past "
            "~1e15 tokens at budget_multiple=2, proportionally less "
            "at larger multiples). Pre-scale avail_tokens (e.g. "
            "count in units of 1k tokens) or lower budget_multiple "
            "before planning."
        )


def token_budget_plan(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    budget_multiple: int = 2,
    cap_epochs: int = 4,
) -> DataFrame:
    """Token-budget epoch planner: turn per-source token mass into an
    executable sampling plan — how many tokens (and therefore epochs)
    of each source a training run should draw to hit a total token
    budget under a sqrt-temperature mixture, with a repeat-exposure
    cap.

    This is the planning table between the mixture-weight reports
    (``pipeline_mixing_weights`` / ``pipeline_temperature_weights``,
    which only DESCRIBE the corpus) and the samplers
    (``dsir_importance_resample`` / ``weighted_priority_sample``,
    which need a per-source quota to execute): the standard
    "epochs-per-source" table from LLM data-mixture work (upsample
    low-resource sources by temperature, cap repeat exposure so no
    source is memorized).

    Per source ``s`` with available token mass ``A_s``:

    - ``weight_num_s = floor(sqrt(A_s))`` — the tau = 0.5 temperature
      weight in EXACT integers. IEEE-754 ``sqrt`` is correctly
      rounded, so both engines floor the identical double; the
      (rare) boundary case where ``sqrt(k*k - 1)`` rounds up to ``k``
      is taken identically on both sides — the contract is
      bit-portability, not mathematical isqrt.
    - ``target_s = floor(B * w_s / W)`` where ``W = sum(w)`` and
      ``B = budget_multiple * sum(A)``, computed by the div-mod split
      ``w*(B div W) + (w*(B mod W)) div W`` — algebraically the exact
      floor (write ``B = q*W + r``), with every intermediate bounded
      by ``w * W`` instead of ``w * B``, so int64 holds to ~1e15-token
      corpora (w <= 3.2e7, W <= |sources|*w) where the naive product
      overflows at ~2.4e12.
    - ``actual_s = least(target_s, cap_epochs * A_s)`` — the epoch
      cap; ``deficit_s = target_s - actual_s`` is the mass the
      mixture wants but the cap refuses (re-plan or accept a smaller
      effective budget).
    - ``epochs_needed = target_s / A_s`` — ONE double division of
      exact bigints (exact-input rounding, deterministic).

    Overflow fails LOUDLY, not silently (the ``source_divergence``
    rule): the per-source frame is persisted anyway, so a bounded
    pre-pass asserts ``budget_multiple * (max(w) + 2) * W <= 2^62``
    — a single bound covering the budget ``B`` itself and BOTH
    div-mod intermediates (see :func:`_check_budget_bound`) — and
    raises with the corpus size named instead of letting Spark's
    non-ANSI long arithmetic wrap into a wrong plan.

    100 TB shape: one scan (tokenize-once map-side count), one hash
    exchange on the source key (persisted: the overflow pre-pass and
    the totals both reuse it), and a single-row totals frame that
    BROADCASTS — the plan is |sources| rows regardless of corpus
    size. No window, no Python.
    """
    n = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    avail = (
        df.select(F.col(source_col).alias("source"), n.alias("__n"))
        .groupBy("source")
        .agg(F.sum("__n").cast("long").alias("avail_tokens"))
    )
    s = keep(avail.select(
        "source",
        "avail_tokens",
        F.floor(F.sqrt(F.col("avail_tokens").cast("double")))
        .cast("long")
        .alias("weight_num"),
    ))
    bound = s.agg(
        F.max("weight_num").alias("mx"),
        F.sum("weight_num").cast("long").alias("den"),
    ).first()
    if bound is not None and bound["mx"] is not None:
        _check_budget_bound(bound["mx"], bound["den"], budget_multiple)
    tot = s.agg(
        F.sum("weight_num").cast("long").alias("__den"),
        (F.lit(budget_multiple) * F.sum("avail_tokens"))
        .cast("long")
        .alias("__budget"),
    )
    target = F.expr(
        "weight_num * (__budget div __den)"
        " + (weight_num * (__budget % __den)) div __den"
    )
    capped = F.least(
        F.col("target_tokens"), F.lit(cap_epochs) * F.col("avail_tokens")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail_tokens",
            "weight_num",
            (
                F.col("weight_num").cast("double")
                / F.col("__den").cast("double")
            ).alias("mix_weight"),
            target.cast("long").alias("target_tokens"),
        )
        .select(
            "source",
            "avail_tokens",
            "weight_num",
            "mix_weight",
            "target_tokens",
            (
                F.col("target_tokens").cast("double")
                / F.col("avail_tokens").cast("double")
            ).alias("epochs_needed"),
            capped.cast("long").alias("actual_tokens"),
            (F.col("target_tokens") - capped).cast("long").alias(
                "deficit_tokens"
            ),
        )
    )


def hashed_bow_embedding(text: Column, dim: int = 16) -> Column:
    """Deterministic pooled text embedding: feature-hashed bag-of-words.

    Each whitespace token hashes (md5 -> 60-bit int, the engine-wide
    portable hash) into one of ``dim`` buckets; the embedding is the
    per-bucket token COUNT vector as doubles — i.e. the sum-pool of
    one-hot token embeddings, the classic hashing-trick text vector
    (Weinberger et al. 2009). No model weights, so every component is
    an exact small integer any engine reproduces bit-for-bit — the
    embedding stand-in that lets chunk-level ANN retrieval be graded
    against a SQL oracle (a real encoder drops in by replacing this
    column with a model-scored one of the same array<double> shape).

    Pure narrow expression — no shuffle, no UDF, no explode: the
    histogram is ONE ``aggregate`` fold over the token-hash array
    (per token, rebuild the dim-slot accumulator with the hashed slot
    incremented), so md5 runs ONCE per token. The first draft counted
    each bucket with ``transform(sequence(0, dim-1), j ->
    size(filter(hs, ...)))`` — a lambda-captured subexpression is
    re-evaluated per output element, so the whole hash array (md5 of
    every token, and the chunk-text slice feeding it) ran dim times
    per row: measured 16x = ~100s at sf1 before the fold, ~seconds
    after. O(dim * n_tokens) compare/copy work remains, but no
    re-hashing.
    """
    toks = F.split(F.trim(text), r"\s+")
    hs = F.transform(
        toks,
        lambda t: F.pmod(
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            F.lit(dim),
        ),
    )
    return F.aggregate(
        hs,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, h: F.transform(
            acc,
            lambda x, i: F.when(i.cast("long") == h, x + F.lit(1.0)).otherwise(x),
        ),
    )


def chunk_ann_topk(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
    dim: int = 16,
    n_planes: int = 6,
    seed: int = 42,
    probe_mod: int = 173,
    probe_rem: int = 7,
    k: int = 5,
    max_candidate_rows: int | None = CANDIDATE_MASS_BUDGET,
) -> DataFrame:
    """Chunk-level ANN retrieval: top-``k`` CHUNKS per probe query —
    the RAG-serving path :func:`chunk_token_windows` was built for
    (r11 verdict item 4), composing the chunker with the LSH ANN tier
    (operators/similarity.py) end to end.

    Probe queries are the deterministic ``doc_id % probe_mod ==
    probe_rem`` sample, embedded from their FULL text; the candidate
    side is every token-window chunk of every OTHER document, embedded
    from its chunk text — both via :func:`hashed_bow_embedding`
    (sum-pooled hashed one-hots), both signed into the same seeded
    hyperplane LSH buckets. Candidates are BUCKET-RESTRICTED (a probe
    only scores chunks sharing its signature — the ANN trade: a probe
    whose bucket holds no foreign chunk returns no rows), then
    exact-cosine reranked. Returns (probe_id, doc_id, chunk_idx, sim,
    rank), rank 1..k per probe by (sim DESC, doc_id, chunk_idx).

    100 TB shape: chunking + pooling + signatures are one narrow pass
    inside the scan stage (zero shuffles, no UDF); the probe frame is
    human-sized and BROADCASTS, so the candidate join is a broadcast
    hash join on the bucket key — the corpus-side chunk frame never
    shuffles. The only exchange is the final per-probe top-k window,
    bounded by candidates (~n_chunks / 2^n_planes per probe). Hot
    buckets inherit the corpus distribution — for degenerate corpora
    compose with the salting guard of ``lsh_bucket_candidates``.

    ``max_candidate_rows`` is the candidate-mass fail-fast (r12
    verdict item 1; shared helper in ``operators/guards.py``). The
    r12 probe measured the family's scaling law on THIS operator:
    with ``probe_mod`` held fixed the probe count grows with the
    corpus and the candidate mass Σ_b probes(b)·chunks(b) goes
    superlinear (12.7× at 10× corpus; linear once ``probe_mod``
    scales with the corpus — PLANS.md r12 addendum). The guard
    pre-counts that mass exactly: the probe-side bucket histogram is
    human-sized and broadcasts, the chunk-side histogram is one
    aggregation over the (persisted) chunk frame, and the raise names
    the knobs. Results-neutral — it counts, never filters; the
    guard's action also materializes the chunk-frame persist, so the
    candidate join below reads the cache instead of re-running the
    narrow chunk+pool+sign pass.

    Bit-portability: embedding components are exact integers, so dot
    products and squared norms are exact integer-valued doubles in
    ANY fold order below 2^53 tokens-per-bucket; cosine is then one
    sqrt+sqrt+mul+div of identical inputs, and bucket signatures fold
    the same literal hyperplanes in the same order both engines (the
    ``embedding_ann_lsh`` contract).
    """
    from chapterhouseqe_spark.operators.similarity import (
        _hyperplanes,
        _signature,
        cosine,
        vec_norm,
    )
    from chapterhouseqe_spark.operators.util import ensure_parallelism

    planes = _hyperplanes(dim, n_planes, seed)
    # the candidate-side chunking/pooling/scoring is narrow-but-
    # expensive and inherits the scan's split count — a small or
    # single-file corpus arrives near-single-partition and
    # single-threads the whole scoring stage; at real scale this is a
    # no-op.
    chunks = chunk_token_windows(
        ensure_parallelism(docs), text_col, id_col, size, stride
    )
    corpus = chunks.select(
        F.col(id_col).alias("doc_id"),
        "chunk_idx",
        hashed_bow_embedding(F.col("chunk_text"), dim).alias("vb"),
    )
    # norm hoisted per chunk row (persisted with the frame), not per
    # (probe, chunk) candidate — bit-identical, see similarity.vec_norm
    corpus = corpus.withColumn(
        "bucket", _signature("vb", planes).cast("int")
    ).withColumn("nb", vec_norm(F.col("vb")))
    probes = (
        docs.filter(F.col(id_col) % probe_mod == probe_rem)
        .select(
            F.col(id_col).alias("probe_id"),
            hashed_bow_embedding(F.col(text_col), dim).alias("va"),
        )
        .withColumn("bucket", _signature("va", planes).cast("int"))
        .withColumn("na", vec_norm(F.col("va")))
    )
    if max_candidate_rows is not None:
        # Exact candidate mass Σ_b probes(b)·chunks(b). Persist the
        # chunk frame FIRST and let the guard's action materialize it
        # (the eager-at-the-seam discipline): the candidate join below
        # then reads the cache, so the narrow-but-expensive
        # chunk+pool+sign pass runs once whether or not the guard is
        # on. The probe lineage re-evaluates once for its histogram —
        # it is the deliberately human-sized side.
        corpus = keep(corpus)
        pb = probes.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("double").alias("pc")
        )
        mass = (
            corpus.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("double").alias("cc"))
            .join(F.broadcast(pb), "bucket")
            .agg(F.sum(F.col("pc") * F.col("cc")).alias("m"))
            .first()["m"]
        )
        check_candidate_mass(
            "chunk_ann_topk",
            mass,
            max_candidate_rows,
            knob="max_candidate_rows",
            law="bucket-join mass sum_b probes(b) * chunks(b); the r12 "
            "probe measured 12.7x at 10x corpus with probe_mod held "
            "fixed (probe count grows with the corpus), linear once "
            "probe_mod scales",
            remediations="raise probe_mod (fewer probes), raise "
            "n_planes (smaller buckets), or lower k and pre-filter "
            "the probe set",
        )
    cand = F.broadcast(probes).join(corpus, "bucket").filter(
        F.col("doc_id") != F.col("probe_id")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("doc_id"), F.col("chunk_idx")
    )
    return (
        cand.select(
            "probe_id",
            "doc_id",
            "chunk_idx",
            cosine("va", "vb", "na", "nb").alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    seed: int = 7,
    weights: list[float] | None = None,
    bias: float = 0.0,
) -> DataFrame:
    """Linear-classifier inference over hashed bag-of-words features —
    the "apply the trained quality classifier to the whole corpus"
    stage of a pretraining pipeline (the fastText-shaped scorer of
    GPT-3/LLaMA-style quality filtering), with seeded stand-in weights
    (a real model drops in via ``weights``/``bias``; the plumbing —
    feature hashing, broadcast weights, scan-stage dot product — is
    what this operator owns).

    score(doc) = bias + sum_j w_j * c_j, with ``c`` =
    :func:`hashed_bow_embedding` (exact integer token counts) and
    ``w`` the weight vector as plain literals. Output: ``(id_col,
    score, is_quality)`` with ``is_quality = score > 0``.

    Bit-portability: each term is one rounding (exact count * literal
    double) and the sum folds in INDEX ORDER (zip_with + ordered
    aggregate here, list_transform + list_reduce there) from the exact
    ``bias`` literal — no commutative SUM, no libm sigmoid (monotone
    in z, so thresholding on z is thresholding on the probability).

    100 TB shape: weights are literals compiled into the plan (the
    degenerate broadcast), the whole operator is ONE narrow projection
    inside the scan stage — zero shuffles, zero Python, embarrassingly
    parallel. This is the template for any linear/low-rank scoring
    head over hashed features.
    """
    import random as _random

    if weights is None:
        rng = _random.Random(seed)
        weights = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    if len(weights) != dim:
        raise ValueError(f"need exactly {dim} weights, got {len(weights)}")
    from chapterhouseqe_spark.operators.util import ensure_parallelism

    wlit = F.array(*[F.lit(float(v)) for v in weights])
    feats = hashed_bow_embedding(F.col(text_col), dim)
    score = F.aggregate(
        F.zip_with(feats, wlit, lambda c, w: c * w),
        F.lit(float(bias)),
        lambda acc, x: acc + x,
    )
    # narrow-but-expensive (per-token md5 + dim-slot fold): inherit a
    # small corpus's 1-2 scan splits and the whole scoring pass
    # single-threads (measured 8s -> <1s at the 10x local scale); at
    # real scale the repartition never fires. The threshold derives
    # from the ALIASED score attribute, not a second copy of the fold
    # expression — referencing the fold twice in one projection would
    # evaluate it twice per row wherever codegen CSE declines.
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), score.alias("score"))
        .withColumn("is_quality", F.col("score") > 0)
    )


def perceptron_train(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
    epochs: int = 3,
) -> DataFrame:
    """Train a linear classifier IN-ENGINE: batch perceptron over
    hashed bag-of-words features (Rosenblatt's update, applied in
    batch: ``w += sum over misclassified docs of y * x`` per epoch).
    Completes the classifier family — :func:`hashed_linear_score` is
    inference, the streaming variant is in-stream inference, this is
    the training step that produces the weights they consume.

    The batch (not sequential) update is the point for BOTH engines
    and both scales:

    - **Exactness**: features are exact integer counts
      (:func:`hashed_bow_embedding`), labels are +/-1, the epoch
      update is an ORDER-FREE integer sum — so the whole training loop
      is replayable bit-for-bit by any engine (the DuckDB oracle
      re-trains and must land on identical weights). Sequential
      perceptron depends on row order — meaningless on a distributed
      shuffle-ordered corpus.
    - **Scale**: one epoch = ONE aggregation job over the cached
      feature frame — dim partial sums + a misclassification count,
      map-side combinable, no shuffle wider than the single reduced
      row. Weights travel between epochs as plan literals (the
      degenerate broadcast, same seam as inference). Driver state is
      the dim-sized weight vector — bounded, epochs * dim values.

    100 TB: the feature pass runs ONCE (persisted + materialized at
    the seam — every epoch re-reading the corpus would re-run the
    per-token md5 fold ``epochs`` times, the multi-reference-lineage
    antipattern); each epoch then costs one cache scan. Magnitudes:
    |w_j| <= epochs * total_tokens stays far below 2^53, so the
    long arithmetic is exact.

    Returns ``(j, weight, n_mis_last)``: the trained weight per
    feature index plus the misclassified-doc count entering the LAST
    update (constant across rows — a convergence diagnostic that
    rides along without a second output shape).
    """
    from chapterhouseqe_spark.operators.util import ensure_parallelism

    if dim < 1 or epochs < 1:
        raise ValueError("need dim >= 1 and epochs >= 1")
    feats = keep(
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            label.cast("long").alias("y"),
            hashed_bow_embedding(F.col(text_col), dim).alias("c"),
        )
    )
    feats.count()  # materialize at the seam: epochs jobs read the cache
    try:
        w = [0] * dim
        n_mis = 0
        for _ in range(epochs):
            dot = F.lit(0).cast("long")
            for j, wj in enumerate(w):
                if wj != 0:
                    dot = dot + F.lit(int(wj)) * F.element_at(
                        F.col("c"), j + 1
                    ).cast("long")
            mis = feats.filter(F.col("y") * dot <= 0)
            row = mis.agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(
                        F.col("y")
                        * F.element_at(F.col("c"), j + 1).cast("long")
                    ).alias(f"d{j}")
                    for j in range(dim)
                ],
            ).first()
            n_mis = row["n"]
            if n_mis == 0:
                break  # converged: every later epoch is a no-op
            w = [w[j] + row[f"d{j}"] for j in range(dim)]
        spark = df.sparkSession
        return spark.createDataFrame(
            [(j, int(w[j]), int(n_mis)) for j in range(dim)],
            "j int, weight bigint, n_mis_last bigint",
        )
    finally:
        feats.unpersist()
