"""Text-analysis kernels: tokenization, quality, lang-ID, fingerprint."""

from pyspark.sql import functions as F

from s3_log_parser_spark.functions.hashes import djb2_py
from s3_log_parser_spark.functions.text import (
    bpe_token_count,
    fingerprint,
    lang_guess,
    quality_features,
    quality_score_x1000,
    token_count,
    tokens,
)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  x  ",), ("don't stop-me now!",)], "t string"
    )
    got = [
        tuple(r)
        for r in df.select(
            token_count("t").alias("w"), bpe_token_count("t").alias("b")
        ).collect()
    ]
    assert got[0] == (3, 3)
    assert got[1] == (0, 0)
    assert got[2] == (1, 1)
    # "don't stop-me now!" → don ' t stop - me now !  = 8 BPE-ish units
    assert got[3] == (3, 8)


def test_quality_features_deterministic(spark):
    df = spark.createDataFrame([("the cat the cat runs",)], "t string")
    r = df.select(
        *[v.alias(k) for k, v in quality_features("t").items()]
    ).collect()[0]
    assert r["n_tokens"] == 5
    assert r["distinct_ratio_x1000"] == 600  # 3/5
    assert r["mean_token_len_x1000"] == 3200  # 16 chars / 5
    assert r["stopword_ratio_x1000"] == 400  # 'the' twice
    assert r["punct_count"] == 0


def test_quality_score_bounds(spark, transcripts):
    out = transcripts.select(quality_score_x1000("text").alias("q"))
    r = out.agg(F.min("q"), F.max("q")).collect()[0]
    assert 0 <= r[0] <= r[1] <= 10000


def test_lang_guess(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of a house",),
            ("der hund und die katze nicht",),
            ("le chat et les chiens",),
            ("xyzzy qwerty",),
        ],
        "t string",
    )
    got = [r[0] for r in df.select(lang_guess("t")).collect()]
    assert got == ["en", "de", "fr", "unknown"]


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [("b a c",), ("c b a",), ("a b d",)], "t string"
    )
    got = [r[0] for r in df.select(fingerprint("t")).collect()]
    assert got[0] == got[1]  # same token set
    assert got[0] != got[2]
    assert got[0] == djb2_py("a b c")  # canonical form is sorted-distinct join


def test_bpe_real_merge_loop(spark, monkeypatch):
    """real BPE: greedy lowest-rank merge parity with hand-checked
    cases + Spark UDF == pure-Python reference on the fixture docs."""
    from s3_log_parser_spark.functions import bpe
    from s3_log_parser_spark.functions.bpe import (
        bpe_token_count_py,
        bpe_token_count_real,
        bpe_units,
    )

    # hand-checkable: with rank {('a','b'):0, ('ab','c'):1}, "abc" -> 1
    with monkeypatch.context() as m:
        m.setattr(bpe, "_RANK", {("a", "b"): 0, ("ab", "c"): 1})
        assert bpe_units("abc") == 1
        assert bpe_units("acb") == 3  # no adjacent merge applies
        assert bpe_units("") == 0
    assert bpe_token_count_py(None) == 0
    assert bpe_token_count_py("") == 0

    import duckdb

    pdf = duckdb.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    want = {
        int(r.doc_id): bpe_token_count_py(r.text) for r in pdf.itertuples()
    }
    got = {
        r["doc_id"]: r["n_bpe_real"]
        for r in spark.createDataFrame(pdf)
        .select("doc_id", bpe_token_count_real("text").alias("n_bpe_real"))
        .collect()
    }
    assert got == want


def test_repetition_x1000(spark):
    from s3_log_parser_spark.functions.text import repetition_x1000

    rows = [
        (1, "a b c a b c a b c"),      # 7 trigrams, 3 distinct → 571
        (2, "one two three four five"),  # all distinct → 0
        (3, "a b"),                      # < n tokens → 0
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r["r"] for r in df.select(
        "id", repetition_x1000("t").alias("r")).collect()}
    assert got[1] == 571  # floor(4/7*1000)
    assert got[2] == 0 and got[3] == 0 and got[4] == 0


def test_pii_counts(spark):
    from s3_log_parser_spark.functions.text import pii_counts

    rows = [
        (1, "contact me at jane.doe@example.com or +1 (555) 123-4567 ok"),
        (2, "no pii here at all"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    c = pii_counts("t")
    got = {
        r["id"]: (r["e"], r["p"])
        for r in df.select(
            "id", c["email"].alias("e"), c["phone"].alias("p")
        ).collect()
    }
    assert got == {1: (1, 1), 2: (0, 0), 3: (0, 0)}


def test_bpe_token_ids(spark):
    """token-id emission: ids are round-trippable to the symbol
    sequence, the id ranges are disjoint by construction, the Spark
    UDF matches the pure-Python reference (order included), and the
    committed table is production-vocabulary scale."""
    from s3_log_parser_spark.functions.bpe import (
        MERGED_ID_BASE,
        bpe_encode_py,
        bpe_symbols,
        bpe_token_count_py,
        bpe_token_ids,
        symbol_id,
    )
    from s3_log_parser_spark.functions.bpe_merges import MERGES

    assert len(MERGES) >= 32_768
    # id scheme: single char → codepoint; merged symbol → base + rank
    assert symbol_id("a") == ord("a")
    first_merged = MERGES[0][0] + MERGES[0][1]
    assert symbol_id(first_merged) == MERGED_ID_BASE
    # every id is decodable: below base = codepoint, above = merge rank
    ids = bpe_encode_py("the quick brown fox 123 jumps!")
    assert len(ids) == bpe_token_count_py("the quick brown fox 123 jumps!")
    for tok_ids, tok in [(bpe_encode_py("quick"), "quick")]:
        decoded = "".join(
            chr(i) if i < MERGED_ID_BASE
            else MERGES[i - MERGED_ID_BASE][0] + MERGES[i - MERGED_ID_BASE][1]
            for i in tok_ids
        )
        assert decoded == tok
        assert [symbol_id(s) for s in bpe_symbols(tok)] == tok_ids
    assert bpe_encode_py(None) == [] and bpe_encode_py("") == []

    import duckdb

    pdf = duckdb.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    want = {int(r.doc_id): bpe_encode_py(r.text) for r in pdf.itertuples()}
    got = {
        r["doc_id"]: list(r["ids"])
        for r in spark.createDataFrame(pdf)
        .select("doc_id", bpe_token_ids("text").alias("ids"))
        .collect()
    }
    assert got == want


def test_pii_oracle_patterns_pinned():
    """the SQL literals interpolated into the text_pii_counts oracle
    must be exactly text.PII_PATTERNS — a drift here would silently
    weaken the cross-engine check."""
    import __spark_entry__ as entrymod
    from s3_log_parser_spark.functions.text import PII_PATTERNS

    sql = entrymod.oracle_sql()["text_pii_counts"]
    for pat in PII_PATTERNS.values():
        assert pat in sql


def test_normalize_text_cleanup_rules(spark):
    from s3_log_parser_spark.functions.text import normalize_text

    rows = [
        (0, "  Hello\t\tWORLD \n"),
        (1, "a\nb"),                      # newline becomes a space
        (2, "x\x00y\x01z"),               # bare controls vanish
        (3, None),                        # NULL -> ''
        (4, "tab\x0Bvert\x0Cform"),       # VT/FF are whitespace here
    ]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text("s").alias("n")).collect()
    }
    assert got[0] == "hello world"
    assert got[1] == "a b"  # NOT 'ab' — ws collapse runs before ctrl strip
    assert got[2] == "xyz"
    assert got[3] == ""
    assert got[4] == "tab vert form"


def test_nfc_text_matches_unicodedata_and_duckdb(spark):
    import unicodedata

    import duckdb

    from s3_log_parser_spark.functions.text import nfc_text

    samples = [
        "ábc",          # combining acute -> á
        "être",         # circumflex
        "already é composed",
        "plain ascii",
        "Å angstrom",    # Å (U+212B) -> U+00C5 under NFC
    ]
    # guard: the first samples must be genuinely non-NFC input
    assert samples[0] != unicodedata.normalize("NFC", samples[0])
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "i long, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", nfc_text("s").alias("n")).collect()
    }
    for i, s in enumerate(samples):
        expect = unicodedata.normalize("NFC", s)
        assert got[i] == expect, s
        # and the DuckDB oracle function agrees (UAX #15 parity)
        (dk,) = duckdb.sql("select nfc_normalize(?)", params=[s]).fetchone()
        assert dk == expect, s
    # NULL passes through
    n = spark.createDataFrame([(0, None)], "i long, s string")
    assert n.select(nfc_text("s").alias("n")).collect()[0]["n"] is None


# ---------------------------------------------------------------------------
# Gopher rule suite (Rae et al. 2021 A1.1)
# ---------------------------------------------------------------------------


def _gopher(spark, texts):
    from s3_log_parser_spark.functions.text import gopher_flags

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    fl = gopher_flags("t")
    out = df.select("i", *[c.alias(k) for k, c in fl.items()])
    return {
        r["i"]: {k: v for k, v in r.asDict().items() if k != "i"}
        for r in out.collect()
    }


def test_gopher_good_document_passes(spark):
    # 60 filler words (len 4) + the stopword couple: mean len in [3,10],
    # all alpha, no bullets/ellipses/symbols
    text = " ".join(["word"] * 58 + ["the", "with"])
    got = _gopher(spark, [text])[0]
    assert got["n_words"] == 60
    for k, v in got.items():
        if k != "n_words":
            assert v is True, k


def test_gopher_individual_rules(spark):
    base = " ".join(["word"] * 58 + ["the", "with"])
    cases = {
        # too short: 10 words
        "word_count_ok": " ".join(["word"] * 8 + ["the", "with"]),
        # mean word length > 10
        "mean_word_len_ok": " ".join(["extraordinarily"] * 58 + ["the", "with"]),
        # >10% hash symbols: 60 words + 12 hashes inline
        "symbol_ratio_ok": base + " " + "#" * 12,
        # 10 lines, all bullet-started
        "bullet_ok": "\n".join("- " + base for _ in range(10)),
        # 10 lines, 4 end with ellipsis (> 30%)
        "ellipsis_ok": "\n".join(
            [base + " end..." for _ in range(4)] + [base] * 6
        ),
        # 60 words but only 2 contain a letter (< 80%)
        "alpha_ratio_ok": " ".join(["1234"] * 58 + ["the", "with"]),
        # only one distinct bank stopword
        "stopword_ok": " ".join(["word"] * 59 + ["the"]),
    }
    for rule, text in cases.items():
        got = _gopher(spark, [text])[0]
        assert got[rule] is False, rule
        assert got["gopher_pass"] is False, rule


def test_gopher_edge_inputs(spark):
    got = _gopher(spark, [None, "", "   "])
    for i in range(3):
        assert got[i]["n_words"] == 0
        assert got[i]["word_count_ok"] is False
        assert got[i]["gopher_pass"] is False
        # line rules stay total (no div-by-zero style failures)
        assert got[i]["bullet_ok"] is True
        assert got[i]["ellipsis_ok"] is True


def test_gopher_symbol_ratio_counts_unicode_ellipsis(spark):
    # 20 words + 3 '…' chars → 3*10 > 20 → fails symbol rule
    text = " ".join(["word"] * 18 + ["the", "with"]) + " … … …"
    got = _gopher(spark, [text])[0]
    assert got["symbol_ratio_ok"] is False


def test_gopher_pass_predicate_matches_flags(spark):
    from s3_log_parser_spark.functions.text import gopher_pass

    texts = [
        " ".join(["word"] * 58 + ["the", "with"]),
        "too short",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got = {
        r["i"]: r["p"]
        for r in df.select(
            "i", gopher_pass("t").alias("p")
        ).collect()
    }
    assert got == {0: True, 1: False, 2: False}


# ---------------------------------------------------------------------------
# Gopher repetition suite (Rae et al. 2021 A1.2)
# ---------------------------------------------------------------------------


def _rep(spark, texts):
    from s3_log_parser_spark.functions.text import gopher_repetition_flags

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    fl = gopher_repetition_flags("t")
    out = df.select("i", *[c.alias(k) for k, c in fl.items()])
    return {
        r["i"]: {k: v for k, v in r.asDict().items() if k != "i"}
        for r in out.collect()
    }


def test_repetition_clean_document_passes(spark):
    # 60 distinct 3-char words: every n-gram unique, no line/para dups
    text = " ".join(f"w{i:02d}" for i in range(60))
    got = _rep(spark, [text])[0]
    for k, v in got.items():
        assert v is True, k


def test_repetition_individual_rules(spark):
    base = " ".join(f"w{i:02d}" for i in range(60))
    cases = {
        # 1 base line + 4 identical planted lines -> 3/5 excess > 30%
        "dup_line_ok": base + "\nrepeated line\n" + "repeated line\n"
        + "repeated line\nrepeated line",
        # 3 identical paragraphs -> 2/4 excess > 30%
        "dup_para_ok": base + ("\n\nshared para body" * 3),
        # one 2-gram dominating >20% of chars
        "top_2gram_ok": base + (" zq xw" * 30),
        # a repeated 5-token cycle -> duplicated 5-grams > 15% of chars
        "dup_5gram_ok": base + (" v1 v2 v3 v4 v5" * 8),
    }
    for rule, text in cases.items():
        got = _rep(spark, [text])[0]
        assert got[rule] is False, rule
        assert got["repetition_pass"] is False, rule


def test_repetition_char_fraction_rules_track_doc_length(spark):
    # the same planted dup lines fail the char rule in a short doc and
    # pass it in a long one (excess chars fixed, denominator grows)
    plant = "\ndup line here" * 3
    short = "tiny base" + plant
    long_ = " ".join(f"w{i:02d}" for i in range(120)) + plant
    assert _rep(spark, [short])[0]["dup_line_char_ok"] is False
    assert _rep(spark, [long_])[0]["dup_line_char_ok"] is True


def test_repetition_short_docs_pass_ngram_gates(spark):
    # < n tokens -> no n-gram exists -> rule passes by definition
    got = _rep(spark, ["one two three", None, ""])
    for i in range(3):
        for n in (5, 6, 7, 8, 9, 10):
            assert got[i][f"dup_{n}gram_ok"] is True
        assert got[i]["dup_line_ok"] is True

