"""Dataset assembly operators: splits, budget sampling, packing.

The last mile of a training-data pipeline, after dedup/filtering
(operators/dedup.py, corpus.py): assign every document to a
train/val/test split, cut each source down to its token budget (or to
a target source mixture), draw the seeded global example shuffle, and
estimate context-window packing. All of them are deterministic,
engine-reproducible (DuckDB oracles in ``__spark_entry__.py``), and
shaped for 100 TB:

- :func:`hash_split` is ROW-LOCAL — a doc's split depends only on the
  salt and its own id (never on other rows), so assignments survive
  corpus growth, re-partitioning, and incremental ingestion. No
  shuffle at all.
- :func:`sample_to_token_budget` / :func:`pack_sequences` /
  :func:`pack_examples` need per-group running token totals in
  deterministic id order. A naive ``Window.partitionBy(group)``
  running sum funnels each group's ENTIRE stream through one task —
  with a handful of sources that is a single-task fold at 100 TB — so
  the offsets come from :func:`_running_start`, a lazy two-level
  prefix sum (bucket-local windows + a slim bucket-offset table)
  whose tasks stay bounded regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashes import check_hash_mode, djb2_expr
from ..functions.text import token_count, tokens

# per-mille split weights (sum to 1000)
SPLITS: tuple[tuple[str, int], ...] = (
    ("train", 900),
    ("val", 50),
    ("test", 50),
)
# the salt of the split hash; changing it re-rolls every assignment
SPLIT_SALT = "v1"


# affine universal-hash post-mix over the MinHash family's prime: raw
# DJB2 mod 1000 is UNUSABLE for splits — the trailing id digits carry
# coefficients 33^0/33^1, so sequential ids cluster into a narrow
# bucket band (measured: ids 0..39 ALL landed in 'train' for two
# different salts). (A·h + B) mod P decorrelates neighboring hashes
# while staying exactly reproducible in DuckDB; A·h < 2^54, ANSI-safe.
SPLIT_MIX_A = 2654435
SPLIT_MIX_B = 7
SPLIT_MIX_P = 4294967311  # smallest prime > 2^32 (= dedup.MINHASH_P)


def split_bucket(id_col: Column | str) -> Column:
    """deterministic per-mille bucket of a document id:
    ``((A·DJB2(SPLIT_SALT || ':' || id) + B) mod P) mod 1000`` (see the
    mix constants above). Reproducible in the DuckDB oracle
    digit-for-digit."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = djb2_expr(F.concat(F.lit(SPLIT_SALT), F.lit(":"), c.cast("string")))
    return F.pmod(
        F.pmod(h * F.lit(SPLIT_MIX_A) + F.lit(SPLIT_MIX_B), F.lit(SPLIT_MIX_P)),
        F.lit(1000),
    )


def hash_split(df: DataFrame) -> DataFrame:
    """add a ``split`` column assigning each row to a named split by
    cumulative per-mille ``SPLITS`` weight over :func:`split_bucket` of
    ``doc_id``. Row-local (no shuffle, no state): the assignment of one
    doc can never change because other docs arrived."""
    b = split_bucket("doc_id")
    expr = None
    acc = 0
    for name, w in SPLITS:
        acc += w
        cond = b < acc
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumn("split", expr)


# ids per bucket of the two-level prefix sum in _running_start
RUNNING_BUCKET_IDS = 65536


def _running_start(
    base: DataFrame,
    part: list[str],
    id_col: str,
) -> DataFrame:
    """add ``_start`` = the per-group running ``_n`` total BEFORE
    each row under deterministic id-order concatenation — the scalable
    prefix sum behind the budget samplers and packers.

    A single ``Window.partitionBy(group).orderBy(id)`` running sum is
    correct but funnels each group's ENTIRE stream through one task
    (with a handful of sources, a single-task fold at 100 TB — the
    semantics never needed that). Same output, two levels instead:

    1. bucket rows by ``floor(id / RUNNING_BUCKET_IDS)`` — order-aligned
       with id for numeric id columns (for non-numeric ids the bucket is
       a constant and the scheme degenerates to the single-window form,
       still correct);
    2. running sum WITHIN each (group, bucket) — tasks bounded by
       ~``RUNNING_BUCKET_IDS`` rows for dense ids, whatever the corpus
       size;
    3. per-(group, bucket) subtotals → a prefix window ordered by
       bucket over that SLIM table (one task per group, but over
       3-column subtotal rows, not the data) → broadcast the bucket
       offsets back onto the data.

    Fully lazy (no driver collect) and deterministic. At extreme
    bucket counts (very sparse 64-bit id spaces) raise
    ``RUNNING_BUCKET_IDS`` so the broadcast offset table stays small.
    """
    from pyspark.sql.types import NumericType

    c = F.col(id_col)
    numeric = isinstance(base.schema[id_col].dataType, NumericType)
    bucket = (
        F.floor(c.cast("long") / F.lit(RUNNING_BUCKET_IDS))
        if numeric
        else F.lit(0).cast("long")
    )
    wl = (
        Window.partitionBy(*part, "_bkt")
        .orderBy(c.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = base.withColumn("_bkt", bucket).withColumn(
        "_lend", F.sum("_n").over(wl)
    )
    sub = b.groupBy(*part, "_bkt").agg(F.sum("_n").alias("_bt"))
    wo = (
        Window.partitionBy(*part)
        .orderBy(F.col("_bkt").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = sub.withColumn("_boff", F.sum("_bt").over(wo) - F.col("_bt")).drop(
        "_bt"
    )
    return (
        b.join(F.broadcast(off), part + ["_bkt"])
        .withColumn(
            "_start", F.col("_boff") + F.col("_lend") - F.col("_n")
        )
        .drop("_bkt", "_lend", "_boff")
    )


def sample_to_token_budget(
    df: DataFrame, budget_tokens: int, by: str
) -> DataFrame:
    """deterministic prefix-by-id sampling: walk each ``by`` group's
    documents in ``id`` order and keep each doc whose RUNNING token
    total before it is still under the group's budget — so the kept
    set is a stable prefix, never a random draw that reshuffles on
    re-run. The first doc of a group is always kept (a budget
    smaller than one doc still yields that doc — truncation is the
    tokenizer's job, not the sampler's). Offsets via the two-level
    :func:`_running_start` (no single-task fold); a doc's size is its
    whitespace token count."""
    base = df.withColumn("_n", token_count("text").cast("long"))
    return (
        _running_start(base, [by], "doc_id")
        .filter(F.col("_start") < budget_tokens)
        .drop("_n", "_start")
    )


def sample_to_mixture(
    df: DataFrame,
    total_budget_tokens: int,
    weights: dict[str, int],
) -> DataFrame:
    """cut a corpus to a target SOURCE MIXTURE: each ``source`` named in
    ``weights`` (per-mille shares of ``total_budget_tokens``) is
    prefix-sampled to ``floor(total · w / 1000)`` tokens by the same
    deterministic walk-in-id-order rule as
    :func:`sample_to_token_budget`; groups absent from ``weights`` are
    dropped entirely (a mixture is a whitelist). This is the "40% web,
    30% code, …" knob every pretraining data recipe has — expressed as
    the two-level :func:`_running_start` offsets plus a row-local map
    lookup, no extra shuffle over the plain budget sampler. Weights
    need not sum to 1000 (they are shares of the total, not a
    partition of it)."""
    for g, w in weights.items():
        if w < 0:
            raise ValueError(f"sample_to_mixture: negative weight for {g!r}")
    budget_map = F.create_map(
        *[
            F.lit(x)
            for g, w in sorted(weights.items())
            for x in (g, total_budget_tokens * w // 1000)
        ]
    )
    budget = F.element_at(budget_map, F.col("source"))
    base = df.withColumn("_n", token_count("text").cast("long"))
    # NULL budget (group not in the mixture) fails the comparison → dropped
    return (
        _running_start(base, ["source"], "doc_id")
        .filter(F.col("_start") < budget)
        .drop("_n", "_start")
    )


# squaring modulus for the shuffle key: the Mersenne prime 2^31 - 1.
# The affine-mixed DJB2 alone is USELESS as an ordering key — for
# sequential ids it is locally an arithmetic progression with step
# A mod P, so adjacent rows invert at rate A/P ≈ 0.06% and a "shuffle"
# ordered by it returns the input order (measured: ids 0..39 came back
# exactly 0..39). Any LINEAR post-mix preserves that structure; the
# cheapest nonlinearity both engines reproduce exactly is squaring mod
# a prime: (b mod (2^31-1))² stays under 2^62 (no BIGINT overflow,
# ANSI-safe) and maps arithmetic progressions to quadratic ones (on
# 10k sequential ids: adjacent inversion 0.4996, worst stride-k order
# bias 0.019, zero collisions).
SHUFFLE_SQ_P = 2147483647


def shuffle_key(
    id_col: Column | str, seed: str = "v1", mode: str = "djb2"
) -> Column:
    """deterministic per-row shuffle key over ``(seed, id)``:
    ``((A·DJB2(seed:id) + B) mod P mod (2^31-1))² mod (2^31-1)`` — the
    split family's mix with a squaring step that actually scrambles
    order (see ``SHUFFLE_SQ_P``). Reproducible digit-for-digit in the
    DuckDB oracle; a new seed draws a fresh permutation;
    ``mode="xxhash64"`` is the production family."""
    check_hash_mode(mode)
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    if mode == "xxhash64":
        return F.xxhash64(F.lit(seed), c)
    h = djb2_expr(F.concat(F.lit(seed), F.lit(":"), c.cast("string")))
    b = F.pmod(h * F.lit(SPLIT_MIX_A) + F.lit(SPLIT_MIX_B), F.lit(SPLIT_MIX_P))
    m = F.pmod(b, F.lit(SHUFFLE_SQ_P))
    return F.pmod(m * m, F.lit(SHUFFLE_SQ_P))


def deterministic_shuffle(
    df: DataFrame,
    seed: str = "v1",
    shards: int | None = None,
    mode: str = "djb2",
) -> DataFrame:
    """order a corpus by a seeded hash of each row's id — the global
    example shuffle a training run reads, reproducible across re-runs
    and engines (ties broken by id, so the order is total even if two
    ids collide on a key). With ``shards=N`` the result is range-
    partitioned into N output shards sorted within each shard — ONE
    exchange and no global merge, the 100 TB write path (shard k holds
    keys below shard k+1, so reading shards in order IS the
    permutation). Without ``shards`` a global ``orderBy`` is used —
    fine for verification scale, but at 100 TB always pass shards.
    Adds the key as ``shuffle_key``."""
    keyed = df.withColumn("shuffle_key", shuffle_key("doc_id", seed, mode))
    if shards is not None:
        return keyed.repartitionByRange(
            shards, "shuffle_key", "doc_id"
        ).sortWithinPartitions("shuffle_key", "doc_id")
    return keyed.orderBy("shuffle_key", "doc_id")


def stratified_sample(
    df: DataFrame,
    n_per_group: int,
    seed: str = "v1",
) -> DataFrame:
    """deterministic per-stratum sample: keep each ``source``'s ``n`` rows
    with the SMALLEST seeded shuffle keys (:func:`shuffle_key`) — a
    reproducible uniform draw with no RNG state and no count pass.
    Unlike fraction-based ``df.sampleBy`` (seed interacts with
    partitioning), the draw depends only on ``(seed, id)``: re-runs,
    engine changes, and corpus growth leave drawn members stable except
    where a new smaller-keyed row bumps the group's cutoff. Adds
    ``sample_rank`` (1-based within group); a new ``seed`` draws a
    fresh sample.

    Scale: Catalyst rewrites the ``row_number() <= n`` filter to a
    WindowGroupLimit — every map task keeps only its local top-n per
    group BEFORE the exchange, so the shuffle carries
    ≤ n·groups·tasks rows, never the corpus (plan-pinned in tests)."""
    if n_per_group < 1:
        raise ValueError(f"stratified_sample: n_per_group={n_per_group}")
    w = Window.partitionBy("source").orderBy(
        F.col("_sk").asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("_sk", shuffle_key("doc_id", seed))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= n_per_group)
        .drop("_sk")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap_tokens: int = 0,
) -> DataFrame:
    """split each document's token stream into fixed-size windows with
    optional overlap — the retrieval/embedding chunking stage (RAG
    indexing, long-doc embedding): chunk ``i`` covers tokens
    ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap_tokens``; the final chunk may be
    short; a doc shorter than one chunk yields exactly one chunk;
    empty docs yield none. Returns one row per chunk:
    ``(doc_id, chunk_id, chunk_text, n_tokens)``. ``chunk_text`` re-joins
    whitespace tokens with single spaces (runs of whitespace collapse —
    chunking is defined on the token stream, not raw bytes).

    Scale: entirely map-side — tokenize, explode
    ``ceil((n-chunk)/stride)+1`` indices per doc, slice. NO shuffle of
    any kind (plan-pinned); at 100 TB this is the shape you want —
    chunking must never be the stage that exchanges the corpus."""
    if chunk_tokens < 1 or not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            "chunk_documents: need chunk_tokens >= 1 and "
            f"0 <= overlap < chunk, got {chunk_tokens}/{overlap_tokens}"
        )
    stride = chunk_tokens - overlap_tokens
    toks = tokens("text")
    base = df.select(
        F.col("doc_id"), toks.alias("_tk"), F.size(toks).alias("_n")
    ).filter(F.col("_n") > 0)
    # ceil((n - chunk)/stride) + 1 for n > chunk, else 1
    n_chunks = F.when(F.col("_n") <= chunk_tokens, F.lit(1)).otherwise(
        F.floor(
            (F.col("_n") - chunk_tokens + stride - 1) / F.lit(stride)
        ).cast("int")
        + 1
    )
    piece = F.slice(
        "_tk", F.col("chunk_id").cast("int") * stride + 1, chunk_tokens
    )
    return (
        base.withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))),
        )
        .select(
            F.col("doc_id"),
            F.col("chunk_id"),
            F.array_join(piece, " ").alias("chunk_text"),
            F.size(piece).cast("long").alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    ctx_tokens: int = 2048,
    by: str | None = "source",
) -> DataFrame:
    """assign each doc the context-window bin where it STARTS under
    deterministic id-order concatenation within its group:
    ``bin = floor((running_total_before_doc) / ctx)``. Adds ``pack_bin``
    and ``n_tokens``. This is the streaming-concatenation packing model
    (docs straddle bin boundaries; the bin of record is where the doc
    begins) — the estimate every pretraining pipeline uses to size a
    run before materializing packed examples."""
    part = [by] if by else []
    base = df.withColumn("n_tokens", token_count("text").cast("long")).withColumn(
        "_n", F.col("n_tokens")
    )
    return (
        _running_start(base, part, "doc_id")
        .withColumn(
            "pack_bin", F.floor(F.col("_start") / ctx_tokens).cast("long")
        )
        .drop("_n", "_start")
    )


def pack_examples(
    df: DataFrame,
    ctx_tokens: int = 2048,
    ids_col: Column | None = None,
) -> DataFrame:
    """MATERIALIZE packed training examples: the per-group token
    stream under deterministic id-order concatenation, cut into
    fixed-length windows — one row per ``(source, pack_bin)`` with the
    actual ``input_ids`` array (length ``ctx_tokens`` for every bin but
    the group's last), ``n_tokens``, and ``n_docs`` contributing.
    Unlike :func:`pack_sequences` (which only ESTIMATES bin counts by
    the bin where each doc starts), documents straddling a window
    boundary are split: each doc contributes the exact slice of its
    ids that lands in each bin — this is the artifact a pretraining
    run actually reads.

    ``ids_col`` supplies the per-doc token-id array; the default is
    the DJB2-of-whitespace-token ids (pure Catalyst, DuckDB-oracle
    reproducible — the parity family). Pass
    ``functions.bpe.bpe_token_ids("text")`` for real BPE ids (the
    production tokenizer, pytest-pinned in test_sampling).

    Shape at scale: the two-level :func:`_running_start` offsets
    (bucket-local windows, never a whole group through one task), a
    map-side explode of each doc into the bins it touches
    (≈ 1 + n/ctx rows, no cross product), and ONE shuffle of the id
    slices keyed by (group, bin). Token ids cross that exchange once —
    the floor for materialization, since the output IS the ids. Empty
    docs contribute nothing and are dropped before the window."""
    part = ["source"]
    if ids_col is None:
        ids_col = F.transform(tokens("text"), lambda t: djb2_expr(t))
    base = (
        df.select("source", "doc_id", ids_col.alias("_ids"))
        .withColumn("_n", F.size("_ids").cast("long"))
        .filter(F.col("_n") > 0)
    )
    base = _running_start(base, part, "doc_id").withColumn(
        "_end", F.col("_start") + F.col("_n")
    )
    c = F.lit(ctx_tokens)
    exploded = base.withColumn(
        "pack_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / c),
                F.floor((F.col("_end") - 1) / c),
            )
        ),
    )
    lo = F.greatest(F.col("pack_bin") * c, F.col("_start"))
    hi = F.least(F.col("_end"), (F.col("pack_bin") + 1) * c)
    piece = F.slice(
        "_ids", (lo - F.col("_start") + 1).cast("int"), (hi - lo).cast("int")
    )
    pieces = exploded.select(
        *part,
        F.col("pack_bin"),
        F.col("_start").alias("_s"),
        piece.alias("_piece"),
    )
    return (
        pieces.groupBy(*part, "pack_bin")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_s", "_piece"))),
                    lambda s: s["_piece"],
                )
            ).alias("input_ids"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .withColumn("n_tokens", F.size("input_ids").cast("long"))
    )


def pack_stats(
    df: DataFrame, ctx_tokens: int = 2048, by: str = "source"
) -> DataFrame:
    """per-group packing summary: docs, bins, tokens, and fill rate
    ×1000 (``sum_tokens / (n_bins · ctx)`` floored) — how much of the
    allocated context space the corpus actually fills."""
    packed = pack_sequences(df, ctx_tokens, by)
    return packed.groupBy(by).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct(F.col("pack_bin")).cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.floor(
            F.sum("n_tokens") * 1000 / (F.count_distinct(F.col("pack_bin")) * ctx_tokens)
        ).cast("long").alias("fill_x1000"),
    )
