"""Dataset assembly: hash splits, token-budget sampling, packing."""

import pytest
from pyspark.sql import functions as F

from s3_log_parser_spark.operators.sampling import (
    hash_split,
    pack_sequences,
    pack_stats,
    sample_to_token_budget,
    split_bucket,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # (doc_id, source, text with a known token count)
        (i, f"s{i % 2}", " ".join(f"w{j}" for j in range(5 + (i % 3) * 5)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_hash_split_partition_and_determinism(spark, corpus):
    out = hash_split(corpus)
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(rows.values()) <= {"train", "val", "test"}
    assert len(rows) == 40  # every row assigned exactly once
    # deterministic: identical on re-run
    again = {r["doc_id"]: r["split"] for r in hash_split(corpus).collect()}
    assert rows == again
    # row-local: a doc's split is unchanged when other docs disappear
    subset = hash_split(corpus.filter(F.col("doc_id") < 10))
    for r in subset.collect():
        assert rows[r["doc_id"]] == r["split"]
    # bucket matches the pure-python reference (DJB2 + affine mix)
    from s3_log_parser_spark.functions.hashes import djb2_py
    from s3_log_parser_spark.operators.sampling import (
        SPLIT_MIX_A,
        SPLIT_MIX_B,
        SPLIT_MIX_P,
    )

    got = corpus.select("doc_id", split_bucket("doc_id").alias("b")).collect()
    for r in got:
        h = djb2_py(f"v1:{r['doc_id']}")
        assert r["b"] == ((SPLIT_MIX_A * h + SPLIT_MIX_B) % SPLIT_MIX_P) % 1000


def test_hash_split_proportions_on_sequential_ids(spark):
    """sequential ids are the adversarial case for weak hashes (raw
    DJB2 mod 1000 put ids 0..39 ALL in 'train'): with the affine
    post-mix, 2,000 sequential ids must land near 90/5/5."""
    ids = spark.range(2000).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["n"]
        for r in hash_split(ids).groupBy("split").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert abs(counts["train"] - 1800) < 60
    assert abs(counts.get("val", 0) - 100) < 40
    assert abs(counts.get("test", 0) - 100) < 40


def test_sample_to_token_budget_prefix_property(spark, corpus):
    """kept set per source is exactly the docs whose preceding running
    total is under budget — a stable prefix in id order; first doc of
    a group always survives."""
    kept = sample_to_token_budget(
        corpus, budget_tokens=30, by="source"
    ).collect()
    by_src: dict[str, list[int]] = {}
    for r in sorted(kept, key=lambda r: r["doc_id"]):
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # recompute expected prefix in python
    import collections

    texts = {
        (r["source"], r["doc_id"]): len(r["text"].split())
        for r in corpus.collect()
    }
    expected = collections.defaultdict(list)
    run: dict[str, int] = collections.defaultdict(int)
    for (src, did) in sorted(texts, key=lambda k: k[1]):
        if run[src] < 30:
            expected[src].append(did)
        run[src] += texts[(src, did)]
    assert by_src == dict(expected)
    # a budget of 1 still keeps the first doc of each source
    tiny = sample_to_token_budget(corpus, budget_tokens=1, by="source")
    assert tiny.count() == 2  # one per source
    # ungrouped mode: global prefix
    g = sample_to_token_budget(corpus, budget_tokens=12)
    assert {r["doc_id"] for r in g.collect()} == {0, 1}


def test_pack_sequences_and_stats(spark, corpus):
    packed = pack_sequences(corpus, ctx_tokens=16, by="source")
    rows = sorted(
        packed.collect(), key=lambda r: (r["source"], r["doc_id"])
    )
    # bins are non-decreasing in id order within a group, start at 0,
    # and equal floor(preceding_total / ctx)
    run = {}
    for r in rows:
        before = run.get(r["source"], 0)
        assert r["pack_bin"] == before // 16
        run[r["source"]] = before + r["n_tokens"]
    stats = {r["source"]: r for r in pack_stats(corpus, 16).collect()}
    for src, st in stats.items():
        assert st["sum_tokens"] == run[src]
        assert 0 < st["fill_x1000"] <= 1000 * max(
            1, st["sum_tokens"] // (st["n_bins"] * 16) + 1
        )
        # fill = floor(sum*1000/(bins*ctx)) recomputed
        assert st["fill_x1000"] == st["sum_tokens"] * 1000 // (
            st["n_bins"] * 16
        )


def test_sample_to_mixture_budgets_and_whitelist(spark, corpus):
    """mixture weights turn into per-group budgets (floor(total·w/1000));
    groups without a weight are dropped entirely; the kept set per group
    equals the plain budget sampler at that group's budget."""
    from s3_log_parser_spark.operators.sampling import sample_to_mixture

    kept = sample_to_mixture(
        corpus, total_budget_tokens=50, weights={"s0": 600}
    ).collect()
    assert {r["source"] for r in kept} == {"s0"}  # s1 not in the mixture
    expected = {
        r["doc_id"]
        for r in sample_to_token_budget(
            corpus.filter(F.col("source") == "s0"),
            budget_tokens=30,  # floor(50 * 600 / 1000)
            by="source",
        ).collect()
    }
    assert {r["doc_id"] for r in kept} == expected
    # zero weight = named but empty -> dropped (budget 0 keeps nothing)
    none = sample_to_mixture(
        corpus, total_budget_tokens=50, weights={"s0": 0}
    )
    assert none.count() == 0
    with pytest.raises(ValueError, match="negative weight"):
        sample_to_mixture(corpus, 50, {"s0": -1})


def test_deterministic_shuffle_seeded_permutation(spark, corpus):
    from s3_log_parser_spark.operators.sampling import (
        deterministic_shuffle,
        shuffle_key,
    )

    order1 = [r["doc_id"] for r in deterministic_shuffle(corpus).collect()]
    assert sorted(order1) == list(range(40))  # a permutation, no loss
    assert order1 != list(range(40))  # actually shuffled
    # same seed -> identical order; new seed -> a different permutation
    again = [r["doc_id"] for r in deterministic_shuffle(corpus).collect()]
    assert again == order1
    other = [
        r["doc_id"]
        for r in deterministic_shuffle(corpus, seed="v2").collect()
    ]
    assert other != order1 and sorted(other) == list(range(40))
    # key matches the pure-python reference (split mix + squaring)
    from s3_log_parser_spark.functions.hashes import djb2_py
    from s3_log_parser_spark.operators.sampling import (
        SHUFFLE_SQ_P,
        SPLIT_MIX_A,
        SPLIT_MIX_B,
        SPLIT_MIX_P,
    )

    got = corpus.select(
        "doc_id", shuffle_key("doc_id", seed="v1").alias("k")
    ).collect()
    for r in got:
        h = djb2_py(f"v1:{r['doc_id']}")
        m = ((SPLIT_MIX_A * h + SPLIT_MIX_B) % SPLIT_MIX_P) % SHUFFLE_SQ_P
        assert r["k"] == (m * m) % SHUFFLE_SQ_P


def test_deterministic_shuffle_sharded_equals_global(spark, corpus):
    """the range-partitioned write path (shards=N, no global merge)
    yields the same permutation as the verification-mode global sort
    when shards are read in partition order."""
    from s3_log_parser_spark.operators.sampling import deterministic_shuffle

    global_order = [
        r["doc_id"] for r in deterministic_shuffle(corpus).collect()
    ]
    sharded = deterministic_shuffle(corpus, shards=4)
    assert sharded.rdd.getNumPartitions() == 4
    per_part = sharded.rdd.map(lambda r: r["doc_id"]).glom().collect()
    flat = [d for part in per_part for d in part]
    assert flat == global_order


def test_pack_examples_exact_windows(spark):
    """materialized packing splits docs across window boundaries: the
    concatenated per-group stream re-read bin-by-bin is byte-identical
    to concatenating the docs, every bin but the last is exactly ctx
    tokens, and n_docs counts contributors (a straddling doc counts in
    both bins)."""
    from s3_log_parser_spark.operators.sampling import pack_examples

    rows = [
        (0, "g", list(range(5))),        # 5 ids
        (1, "g", [10, 11, 12, 13]),      # 4 ids
        (2, "g", [20, 21, 22]),          # 3 ids
        (3, "h", [7]),                   # lone short doc in another group
        (4, "h", []),                    # empty doc contributes nothing
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, ids array<long>"
    )
    out = {
        (r["source"], r["pack_bin"]): r
        for r in pack_examples(
            df, ctx_tokens=4, ids_col=F.col("ids")
        ).collect()
    }
    assert out[("g", 0)]["input_ids"] == [0, 1, 2, 3]
    assert out[("g", 1)]["input_ids"] == [4, 10, 11, 12]  # doc0|doc1 split
    assert out[("g", 2)]["input_ids"] == [13, 20, 21, 22]
    assert out[("g", 1)]["n_docs"] == 2 and out[("g", 2)]["n_docs"] == 2
    assert all(r["n_tokens"] == 4 for k, r in out.items() if k[0] == "g")
    assert out[("h", 0)]["input_ids"] == [7] and out[("h", 0)]["n_tokens"] == 1
    assert len(out) == 4  # the empty doc created no bin


def test_pack_examples_default_ids_and_bpe_mode(spark, corpus):
    """default ids are DJB2-of-token (the oracle family); full bins are
    exactly ctx long and the whole stream length equals the corpus
    token total. The real-BPE production mode runs end-to-end with the
    same invariants."""
    from s3_log_parser_spark.functions.bpe import bpe_token_ids
    from s3_log_parser_spark.operators.sampling import pack_examples

    out = pack_examples(corpus, ctx_tokens=32).collect()
    total = sum(len(r["text"].split()) for r in corpus.collect())
    assert sum(r["n_tokens"] for r in out) == total
    for src in {r["source"] for r in out}:
        bins = sorted(
            (r for r in out if r["source"] == src),
            key=lambda r: r["pack_bin"],
        )
        assert [r["pack_bin"] for r in bins] == list(range(len(bins)))
        assert all(r["n_tokens"] == 32 for r in bins[:-1])
    bpe = pack_examples(
        corpus, ctx_tokens=32, ids_col=bpe_token_ids("text")
    ).collect()
    short = [r for r in bpe if r["n_tokens"] != 32]
    # only group-final bins may be short
    assert len(short) <= len({r["source"] for r in bpe})
    assert all(0 < r["n_tokens"] <= 32 for r in bpe)


def test_hash_split_plan_has_no_exchange(spark, corpus):
    """hash_split must be row-local: the physical plan contains no
    Exchange (shuffle) — the property that makes assignments stable
    under corpus growth and free at 100 TB."""
    plan = (
        hash_split(corpus)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def _window_start_reference(df, part, id_col, cnt_col):
    """the r5 single-window running-offset form, kept as the equality
    reference for _running_start (VERDICT r5 #3)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "_start", F.sum(cnt_col).over(w) - F.col(cnt_col)
    )


def test_running_start_equals_single_window(spark, corpus, monkeypatch):
    """the two-level prefix sum returns exactly the offsets the naive
    per-group window produced — per-group, ungrouped, small buckets
    (multi-bucket path), and non-numeric ids (degenerate path)."""
    from s3_log_parser_spark.operators import sampling
    from s3_log_parser_spark.operators.sampling import _running_start

    base = corpus.withColumn(
        "_n", F.size(F.split("text", " ")).cast("long")
    )
    for part in (["source"], []):
        for bucket_ids in (65536, 7):  # 7 → dozens of real buckets
            monkeypatch.setattr(sampling, "RUNNING_BUCKET_IDS", bucket_ids)
            got = {
                tuple(r[c] for c in (part + ["doc_id"])): r["_start"]
                for r in _running_start(base, part, "doc_id").collect()
            }
            want = {
                tuple(r[c] for c in (part + ["doc_id"])): r["_start"]
                for r in _window_start_reference(
                    base, part, "doc_id", "_n"
                ).collect()
            }
            assert got == want, (part, bucket_ids)
    # non-numeric id column: constant bucket, same offsets
    sbase = base.withColumn("sid", F.format_string("d%03d", "doc_id"))
    got = {
        r["sid"]: r["_start"]
        for r in _running_start(sbase, ["source"], "sid").collect()
    }
    want = {
        r["sid"]: r["_start"]
        for r in _window_start_reference(
            sbase, ["source"], "sid", "_n"
        ).collect()
    }
    assert got == want


def test_running_start_plan_has_no_whole_group_window(
    spark, corpus, monkeypatch
):
    """scale pin: the window over the DATA runs per (group, bucket),
    never per group alone — no single task ever folds a whole source's
    stream (VERDICT r5 perf item). The only per-group-partitioned
    window in the plan is the one over the slim bucket-subtotal
    aggregate."""
    from s3_log_parser_spark.operators import sampling
    from s3_log_parser_spark.operators.sampling import _running_start

    monkeypatch.setattr(sampling, "RUNNING_BUCKET_IDS", 4)
    base = corpus.withColumn("_n", F.lit(1).cast("long"))
    plan = (
        _running_start(base, ["source"], "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    # the data-side window partitions by (source, _bkt)
    assert any("source" in s and "_bkt" in s for s in specs), specs
    # and no window in the plan partitions by source alone while
    # ordering by doc_id (the old whole-group fold)
    for s in specs:
        if "doc_id" in s and "_bkt" not in s:
            raise AssertionError(f"whole-group window survived: {s}")


def test_stratified_sample_deterministic_and_group_limited(spark, corpus):
    from s3_log_parser_spark.operators.sampling import stratified_sample

    out = stratified_sample(corpus, n_per_group=3, seed="t1")
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r)
    assert set(per) == {"s0", "s1"}
    for g, rs in per.items():
        assert sorted(r["sample_rank"] for r in rs) == [1, 2, 3]
    # re-run identical; different seed draws a different sample
    again = {(r["source"], r["doc_id"]) for r in
             stratified_sample(corpus, 3, seed="t1").collect()}
    assert again == {(r["source"], r["doc_id"]) for r in rows}
    other = {(r["source"], r["doc_id"]) for r in
             stratified_sample(corpus, 3, seed="t2").collect()}
    assert other != again
    # scale pin: the rank filter compiles to a WindowGroupLimit (map
    # tasks keep local top-n per group before the exchange)
    plan = (
        stratified_sample(corpus, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_chunk_documents_windows_and_no_shuffle(spark):
    from s3_log_parser_spark.operators.sampling import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # short: 1 chunk
            (2, " ".join(f"u{i}" for i in range(64))),   # 3 chunks
            (3, ""),                                      # empty: none
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=32, overlap_tokens=8)
    rows = sorted(
        out.collect(), key=lambda r: (r["doc_id"], r["chunk_id"])
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    assert [r["n_tokens"] for r in by_doc[1]] == [10]
    # stride 24: chunks at 0, 24, 48 -> 32, 32, 16 tokens
    assert [r["n_tokens"] for r in by_doc[2]] == [32, 32, 16]
    # overlap: chunk 1 starts 8 tokens before chunk 0 ends
    c0 = by_doc[2][0]["chunk_text"].split(" ")
    c1 = by_doc[2][1]["chunk_text"].split(" ")
    assert c0[-8:] == c1[:8]
    # full coverage in order: stitching de-overlapped chunks rebuilds
    # the token stream
    stitched = c0 + c1[8:] + by_doc[2][2]["chunk_text"].split(" ")[8:]
    assert stitched == [f"u{i}" for i in range(64)]
    # bad params raise
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap_tokens=8)
    # scale pin: chunking never shuffles
    plan = (
        chunk_documents(docs, 32, 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
