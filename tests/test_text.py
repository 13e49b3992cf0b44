

def test_compressed_ingest_roundtrip_and_quarantine(spark):
    """r9: gzip compress -> routed decompress recovers every document's
    exact text (CRC-verified by the stdlib reader), while truncated
    members, garbage containers, non-UTF-8 plaintext, and NULL payloads
    land as error_class rows — the compressed-ingest twin of the media
    quarantine routers."""
    import gzip

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import text as tx

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(40)
    comp = tx.compress_documents(docs)
    out = tx.decompress_documents_routed(comp)
    got = {r["doc_id"]: r for r in out.collect()}
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(got) == len(want)
    for did, text in want.items():
        assert got[did]["error_class"] is None
        assert got[did]["text"] == text
        assert got[did]["n_chars"] == len(text)

    # poison payloads route, never raise
    good = gzip.compress("hello world".encode()), None
    bad_utf8 = gzip.compress(b"\xff\xfe\x00\x01\x81")
    rows = [
        (1, bytearray(good[0])),
        (2, bytearray(good[0][: len(good[0]) - 3])),  # truncated member
        (3, bytearray(b"\x00garbage")),               # unknown container
        (4, None),                                    # null payload
        (5, bytearray(bad_utf8)),                     # invalid utf-8
        (None, bytearray(good[0])),                   # null id
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    res = tx.decompress_documents_routed(df)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # shuffle-free router
    by = {r["doc_id"]: r for r in res.collect()}
    assert by[1]["text"] == "hello world" and by[1]["error_class"] is None
    assert by[2]["error_class"] == "ValueError"
    assert by[3]["error_class"] == "NotImplementedError"
    assert by[4]["error_class"] == "ValueError"
    assert by[5]["error_class"] == "ValueError"  # UnicodeDecodeError ⊂ VE
    nid = next(r for r in res.collect() if r["doc_id"] is None)
    assert nid["text"] == "hello world"


def test_compressed_ingest_multicodec_roundtrip_and_quarantine(spark):
    """r10: the ingest pair speaks all three stdlib containers — gzip,
    bz2 (wiki dumps), xz — detected by magic in one router. Each codec
    round-trips the exact text (every stdlib reader verifies its
    integrity trailer), truncated members of EVERY codec quarantine as
    ValueError, and a payload cut to just its magic does too (member
    truncates inside the header, never a silent pass)."""
    import bz2
    import gzip
    import lzma

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import text as tx

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(30)
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    for codec in ("gzip", "bz2", "xz"):
        out = tx.decompress_documents_routed(
            tx.compress_documents(docs, codec=codec)
        )
        got = {r["doc_id"]: r for r in out.collect()}
        assert len(got) == len(want), codec
        for did, text in want.items():
            assert got[did]["error_class"] is None, (codec, did)
            assert got[did]["text"] == text, (codec, did)

    # per-codec fault classes: full member OK; 3/4 cut and magic-only
    # cut both ValueError; magics are mutually exclusive
    members = {
        "gzip": (gzip.compress(b"hello multicodec"), 2),
        "bz2": (bz2.compress(b"hello multicodec"), 3),
        "xz": (lzma.compress(b"hello multicodec"), 6),
    }
    rows, expect = [], {}
    i = 0
    for codec, (m, magic_len) in members.items():
        rows += [
            (i, bytearray(m)),
            (i + 1, bytearray(m[: 3 * len(m) // 4])),
            (i + 2, bytearray(m[:magic_len])),
        ]
        expect[i] = None
        expect[i + 1] = "ValueError"
        expect[i + 2] = "ValueError"
        i += 3
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    by = {
        r["doc_id"]: r
        for r in tx.decompress_documents_routed(df).collect()
    }
    for did, err in expect.items():
        assert by[did]["error_class"] == err, (did, by[did])
    assert by[0]["text"] == by[3]["text"] == by[6]["text"] == "hello multicodec"

    # unsupported codec name fails loudly at plan build
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown codec"):
        tx.compress_documents(docs, codec="zstd")


def test_compress_documents_codec_col_mixed_feed(spark):
    """r11: the codec is chosen PER ROW from a string column — the
    mixed-feed plant the multi-codec oracle row uses (doc_id%3 ->
    gzip/bz2/xz side by side, the real shape of a crawl bucket). Each
    row's payload carries ITS codec's magic and round-trips its exact
    text through the magic-routed decompressor; NULL codec entries
    fall back to the call-level default."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import text as tx

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .limit(30)
        .withColumn(
            "codec",
            F.when(F.col("doc_id") % 3 == 0, F.lit("gzip"))
            .when(F.col("doc_id") % 3 == 1, F.lit("bz2"))
            .when(F.col("doc_id") % 9 == 5, F.lit(None).cast("string"))
            .otherwise(F.lit("xz")),
        )
    )
    comp = tx.compress_documents(docs, codec_col="codec")
    magics = {
        "gzip": b"\x1f\x8b",
        "bz2": b"BZh",
        "xz": b"\xfd7zXZ\x00",
    }
    want = {
        r["doc_id"]: (r["text"], r["codec"] or "gzip")
        for r in docs.collect()
    }
    for r in comp.collect():
        _, codec = want[r["doc_id"]]
        assert bytes(r["payload"]).startswith(magics[codec]), r["doc_id"]
    got = {
        r["doc_id"]: r
        for r in tx.decompress_documents_routed(comp).collect()
    }
    for did, (text, _) in want.items():
        assert got[did]["error_class"] is None
        assert got[did]["text"] == text


def test_compressed_ingest_router_survives_arbitrary_bytes(spark):
    """r10: the ingest router is fed untrusted bytes at 100 TB — ANY
    payload must land as a row (good or error_class), never a raised
    exception. Deterministic fuzz corpus: magic-prefixed garbage for
    each codec, bit-flipped real members, random bytes, empty, and
    whitespace — the media-router fuzz contract, text edition."""
    import bz2
    import gzip
    import lzma
    import random

    from realtime_market_data_pipeline_spark.operators import text as tx

    rng = random.Random(7)
    real = {
        "gzip": gzip.compress(b"fuzz body " * 20),
        "bz2": bz2.compress(b"fuzz body " * 20),
        "xz": lzma.compress(b"fuzz body " * 20),
    }
    rows = []
    did = 0
    for magic in (b"\x1f\x8b", b"BZh", b"\xfd7zXZ\x00", b""):
        for _ in range(5):
            junk = magic + bytes(rng.randrange(256) for _ in range(30))
            rows.append((did, bytearray(junk)))
            did += 1
    for m in real.values():
        for _ in range(5):
            flipped = bytearray(m)
            pos = rng.randrange(len(flipped))
            flipped[pos] ^= 1 << rng.randrange(8)
            rows.append((did, flipped))
            did += 1
    rows += [(did, bytearray(b"")), (did + 1, bytearray(b"   "))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = tx.decompress_documents_routed(df).collect()
    assert len(out) == len(rows)  # every payload became a row
    for r in out:
        # each row is decisively good XOR quarantined
        assert (r["error_class"] is None) == (r["text"] is not None), r
        if r["error_class"] is not None:
            assert r["error_class"] in ("ValueError", "NotImplementedError")


def test_boilerplate_removal_semantics_and_plan(spark):
    """r10: lines in >= min_docs DISTINCT docs vanish from every doc,
    unique lines survive byte-exactly in order (duplicates WITHIN one
    doc don't count toward the threshold); the frequency exchange
    carries md5 digests (never line text) and the corpus-side filter
    is a broadcast anti-join."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (1, "alpha\nCOMMON\nfoot one"),
        (2, "beta\nCOMMON\nfoot two"),
        (3, "gamma\nCOMMON\nfoot three"),
        # doc 4 repeats a line 3x WITHIN itself: count_distinct(doc)=1,
        # must survive
        (4, "self\nself\nself\ndelta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.remove_boilerplate_lines(df, min_docs=3)
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].clean_text == "alpha\nfoot one"
    assert got[2].clean_text == "beta\nfoot two"
    assert got[3].clean_text == "gamma\nfoot three"
    assert got[4].clean_text == "self\nself\nself\ndelta"
    assert got[1].n_lines == 3 and got[1].n_removed == 1
    assert got[4].n_removed == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the frequency aggregation exchanges the digest, not the text
    assert "md5" in plan


def test_duplicate_spans_semantics_and_plan(spark):
    """r10 exact-substring dedup (Lee et al. 2022 shape): any w-token
    window occurring >= min_count times anywhere in the corpus marks
    its range; overlapping AND abutting ranges merge into maximal
    spans; within-doc repeats count toward the threshold. Plan: the
    occurrence-count exchange carries xxhash64 digests (never window
    text) and the frequent set comes back as a broadcast join."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    shared = "one two three four"  # 4 tokens, w=4 -> exactly one window
    rows = [
        # cross-doc duplicate: the shared window sits at offsets 1..4
        (1, f"a {shared} b"),
        (2, f"x y {shared}"),
        # within-doc ABUTTING duplicate: the same 4 tokens twice in a
        # row -> starts at 0 and 4 (gap == w) must MERGE into ONE span
        (3, "p q r s p q r s"),
        # all-unique doc: no rows
        (4, "u v w x y z aa bb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.duplicate_spans(df, w=4, min_count=2, broadcast_frequent=True)
    got = sorted(
        (r.doc_id, r.span_id, r.start_tok, r.end_tok, r.n_tokens)
        for r in out.collect()
    )
    assert got == [
        (1, 1, 1, 4, 4),  # "one two three four" inside doc 1
        (2, 1, 2, 5, 4),  # same window at a different offset in doc 2
        (3, 1, 0, 7, 8),  # two abutting starts merged into one span
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan
    # the gram relation (corpus-dominant: one row per token) hangs two
    # consumers — the occurrence count and the marked-start join. Both
    # must share ONE doc_id exchange: under the static ReuseExchange
    # rule that is a deterministic ReusedExchange node (AQE dedups the
    # same canonical subtree at stage materialization — the minhash
    # precedent); a refactor that de-canonicalizes the branches would
    # silently scan and window the corpus twice per job.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df2 = tx.duplicate_spans(
            df, w=4, min_count=2, broadcast_frequent=True
        )
        static = df2._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert static.count("ReusedExchange") >= 1
    assert static.count("Scan ") - static.count("ReusedExchange") <= 1


def test_duplicate_spans_overlap_merge_and_gap_split(spark):
    """Overlapping starts (gap < w) merge; a gap > w splits spans. A
    6-token run duplicated across docs with w=4 yields starts {0,1,2}
    (every 4-window inside it) -> ONE span of 6 tokens; a second
    duplicated run later in the same doc, separated by > w unique
    tokens, becomes its OWN span with span_id 2."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    run1 = "a1 a2 a3 a4 a5 a6"  # 6 tokens
    run2 = "b1 b2 b3 b4"  # 4 tokens
    rows = [
        (1, f"{run1} u1 u2 u3 u4 u5 {run2}"),
        (2, f"{run1} q1 q2 q3 q4 q5 {run2}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.duplicate_spans(df, w=4, min_count=2)
    got = sorted(
        (r.doc_id, r.span_id, r.start_tok, r.end_tok, r.n_tokens)
        for r in out.collect()
    )
    assert got == [
        (1, 1, 0, 5, 6),
        (1, 2, 11, 14, 4),
        (2, 1, 0, 5, 6),
        (2, 2, 11, 14, 4),
    ]


def test_remove_duplicate_spans_reconstruction(spark):
    """The removal twin drops exactly the covered tokens and keeps
    every document (even span-free ones) with clean text in order;
    n_removed == sum of its span lengths."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators import text as tx

    shared = "one two three four"
    rows = [
        (1, f"a {shared} b"),
        (2, f"x y {shared}"),
        (3, "all unique tokens here nothing repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.remove_duplicate_spans(df, w=4, min_count=2)
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].clean_text == "a b" and got[1].n_removed == 4
    assert got[2].clean_text == "x y" and got[2].n_removed == 4
    assert got[3].clean_text == rows[2][1] and got[3].n_removed == 0
    assert got[1].n_tokens == 6 and got[3].n_tokens == 8
    # removal is consistent with the span relation
    spans = tx.duplicate_spans(df, w=4, min_count=2)
    per_doc = {
        r.doc_id: r.s
        for r in spans.groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    for doc_id, r in got.items():
        assert r.n_removed == per_doc.get(doc_id, 0)


def test_duplicate_spans_null_and_short_docs(spark):
    """Poison-row hygiene: NULL text yields no spans and zeroed removal
    accounting (never NULL propagation); docs shorter than w yield no
    windows but survive removal untouched."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (1, None),
        (2, "short doc"),
        (3, "one two three four"),
        (4, "z one two three four q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = sorted(
        (r.doc_id, r.start_tok, r.end_tok)
        for r in tx.duplicate_spans(df, w=4, min_count=2).collect()
    )
    assert spans == [(3, 0, 3), (4, 1, 4)]
    got = {
        r.doc_id: r
        for r in tx.remove_duplicate_spans(df, w=4, min_count=2).collect()
    }
    assert len(got) == 4  # every doc kept, poisoned ones included
    assert (got[1].clean_text, got[1].n_tokens, got[1].n_removed) == ("", 0, 0)
    assert (got[2].clean_text, got[2].n_removed) == ("short doc", 0)
    assert (got[3].clean_text, got[3].n_removed) == ("", 4)
    assert (got[4].clean_text, got[4].n_removed) == ("z q", 4)


def test_gopher_quality_rules_and_signals(spark):
    """late r11: the Gopher rules fire on planted structures and the
    signals are exact count arithmetic — an all-bullet doc fails the
    bullet rule, an ellipsis-terminated doc fails the ellipsis rule, a
    symbol-run doc fails symbol AND alpha, short docs fail word count,
    and keep is the conjunction."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "the data value " + " ".join(f"word{i}" for i in range(22))),
        (1, "- the data\n- value row\n- key line"),     # all-bullet
        (2, "the data value key row line more words here..."),  # ellipsis
        (3, "the data value " + "# " * 12),              # symbols
        (4, "tiny the data"),                            # too short
        (5, "zz qq " + " ".join(f"w{i}" for i in range(25))),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.gopher_quality(
            df,
            min_words=5,
            max_words=80,
            required_words=("the", "data", "value"),
        ).collect()
    }
    assert out[0].keep
    assert not out[1].pass_bullet_lines and out[1].bullet_line_ratio == 1.0
    assert not out[2].pass_ellipsis_lines
    assert not out[3].pass_symbol_ratio and not out[3].pass_alpha_words
    assert not out[4].pass_word_count and out[4].n_words == 3
    assert not out[5].pass_stopwords and out[5].n_required_stopwords == 0
    for r in out.values():
        assert r.keep == (
            r.pass_word_count and r.pass_mean_word_len
            and r.pass_symbol_ratio and r.pass_bullet_lines
            and r.pass_ellipsis_lines and r.pass_alpha_words
            and r.pass_stopwords
        )
    # signal exactness spot check: doc 3 has 12 '#' among 16 tokens (the
    # \s+ split keeps the trailing empty token — the corpus-wide _O_TOKS
    # semantics)
    assert out[3].n_words == 16
    assert out[3].symbol_ratio == 0.75


def test_c4_rules_line_and_doc_gates(spark):
    """r13 (Raffel et al. 2020 §2.2): C4 line rules — terminal
    punctuation, >=3 words, javascript/cookie line drops — and the
    doc-level gates (sentence floor on CLEANED text, bad word / lorem
    ipsum / brace on RAW text)."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        # three clean sentences + one unpunctuated line (dropped)
        (0, "one good sentence here.\nsecond fine line stays!\n"
            "does this one stay?\nno terminal punctuation line"),
        # javascript + cookie + short lines all dropped; one keeper
        (1, "please enable JavaScript now.\nwe use cookies here.\n"
            "too short.\nthe only surviving sentence line."),
        # raw-text page gates: lorem / badword / brace
        (2, "a fine long sentence stays here.\nlorem ipsum dolor sit amet."),
        (3, "a fine long sentence stays here.\nthis mentions badword2 sadly."),
        (4, "a fine long sentence stays here.\nif (x) { return; }"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.c4_rules(df, min_sentences=3).collect()
    }
    r0 = out[0]
    assert r0.n_lines == 4 and r0.n_kept_lines == 3
    assert r0.clean_text == (
        "one good sentence here.\nsecond fine line stays!\n"
        "does this one stay?"
    )
    assert r0.n_sentences == 3 and r0.keep
    r1 = out[1]
    assert r1.n_kept_lines == 1
    assert r1.clean_text == "the only surviving sentence line."
    assert not r1.keep  # 1 sentence < 3
    assert out[2].has_lorem and not out[2].keep
    assert out[3].has_bad_word and not out[3].keep
    assert out[4].has_brace and not out[4].keep
    # the brace line itself also fails the terminal-punctuation rule
    assert out[4].n_kept_lines == 1
    # NULL text routes explicitly: NULL signals, keep=false
    df5 = spark.createDataFrame([(5, None)], "doc_id long, text string")
    r5 = tx.c4_rules(df5, min_sentences=3).collect()[0]
    assert r5.clean_text is None and r5.n_lines is None
    assert r5.has_bad_word is None and r5.keep is False


def test_classifier_score_margin_and_null_route(spark):
    """r13 (Brown et al. 2020 Appx A as dataflow): hashed linear
    classifier apply — the margin replays a python fold of the same
    md5 bucket/weight scheme exactly, n_grams = 2T-1 stays odd, and
    NULL text routes to (0, NULL, NULL, false) instead of dropping."""
    import hashlib

    from realtime_market_data_pipeline_spark.operators import text as tx

    def fold(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def weight(b: int) -> int:
        return fold(f"qcls:v1:{b}") % 17 - 8

    def expected(text: str, n_buckets: int = 4096):
        t = text.split(" ")
        grams = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
        ws = [weight(fold(g) % n_buckets) for g in grams]
        return len(grams), sum(ws)

    rows = [
        (0, "the quick brown fox jumps"),
        (1, "one"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wt = tx.seeded_classifier_weights(spark, n_buckets=4096)
    out = {r.doc_id: r for r in tx.classifier_score(df, wt).collect()}

    n0, m0 = expected("the quick brown fox jumps")
    assert n0 == 9 and n0 % 2 == 1
    assert out[0].n_grams == n0 and out[0].margin == m0
    assert out[0].score == round(m0 / n0, 6)
    assert out[0].pred_keep == (m0 > 0)

    n1, m1 = expected("one")
    assert out[1].n_grams == 1 and out[1].margin == m1

    r2 = out[2]
    assert r2.n_grams == 0 and r2.margin is None
    assert r2.score is None and r2.pred_keep is False


def test_perplexity_buckets_thirds_and_ties(spark):
    """r13 (Wenzek et al. 2020 §4.3): per-group thirds at exact integer
    ceilings, rank ties broken by id, singleton groups land in head."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = (
        # lang 'en': 7 docs, scores force rank order; ids 0..6
        [(i, "en", float(10 + i)) for i in range(7)]
        # tie pair in 'es': same score, id breaks the tie
        + [(10, "es", 5.0), (11, "es", 5.0), (12, "es", 9.0)]
        # singleton group
        + [(20, "de", 1.0)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, avg_neg_logp double"
    )
    out = {r.doc_id: r for r in tx.perplexity_buckets(df).collect()}
    # en: n=7 -> head cut ceil(7/3)=3, middle cut ceil(14/3)=5
    assert [out[i].bucket for i in range(7)] == (
        ["head"] * 3 + ["middle"] * 2 + ["tail"] * 2
    )
    assert out[0].ppl_rank == 1 and out[6].n_group == 7
    # es tie: id 10 outranks 11
    assert out[10].ppl_rank == 1 and out[11].ppl_rank == 2
    assert [out[i].bucket for i in (10, 11, 12)] == [
        "head", "middle", "tail",
    ]
    assert out[20].bucket == "head" and out[20].n_group == 1


def test_mixture_sample_integer_membership_and_unknown_domain(spark):
    """r13: temperature-mixture sampling — membership replays the exact
    u48 integer test, p_sample is min(1, budget*w/n), domains absent
    from the weight table route to kept=false with NULL p."""
    import hashlib

    from realtime_market_data_pipeline_spark.operators import text as tx

    def u48(doc_id: int, salt: str = "mix:v1") -> int:
        return int(
            hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:12], 16
        )

    rows = [(i, "en") for i in range(8)] + [
        (100, "de"), (101, "de"), (200, "xx")
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {
        r.doc_id: r
        for r in tx.mixture_sample(
            df, weights={"en": (3, 4), "de": (1, 4)}, budget_n=4
        ).collect()
    }
    # en: n=8, p = 4*3/(4*8) = 0.375; exact integer test per doc
    for i in range(8):
        assert out[i].p_sample == 0.375
        want = u48(i) * 4 * 8 < 4 * 3 * 2**48
        assert out[i].kept == want
    # de: n=2, p = 4*1/(4*2) = 0.5
    assert out[100].p_sample == 0.5 and out[100].n_group == 2
    # unknown domain: NULL p, kept=false, row preserved
    assert out[200].p_sample is None and out[200].kept is False


def test_pack_layout_offsets_and_spill(spark):
    """r13: per-doc packing layout — offsets are the id-ordered cumsum
    per group, seq/offset derive by integer division, spill counts the
    tokens past the first window boundary."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "s", " ".join(["w"] * 6)),   # start 0, fits
        (1, "s", " ".join(["w"] * 3)),   # start 6, spills 1 past ctx=8
        (2, "s", " ".join(["w"] * 10)),  # start 9 -> seq 1, off 1, spill 3
        (3, "t", "w"),                   # other group starts fresh
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in tx.pack_layout(df, ctx_tokens=8).collect()
    }
    assert (out[0].start_tok, out[0].seq_id, out[0].offset_in_seq,
            out[0].n_spill, out[0].spills_over) == (0, 0, 0, 0, False)
    assert (out[1].start_tok, out[1].seq_id, out[1].offset_in_seq,
            out[1].n_spill, out[1].spills_over) == (6, 0, 6, 1, True)
    assert (out[2].start_tok, out[2].seq_id, out[2].offset_in_seq,
            out[2].n_spill) == (9, 1, 1, 3)
    assert (out[3].start_tok, out[3].seq_id) == (0, 0)


def test_stratified_sample_exact_quota_and_determinism(spark):
    """r13: exact per-stratum quotas — exactly quota_n selected per
    group (or all rows in smaller groups), membership is a pure
    function of the id, and re-running yields identical ranks."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [(i, "en") for i in range(10)] + [(100, "de")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out1 = tx.stratified_sample_exact(df, quota_n=4).collect()
    out2 = tx.stratified_sample_exact(df, quota_n=4).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    en = [r for r in out1 if r.lang == "en"]
    assert sum(r.selected for r in en) == 4
    assert sorted(r.strat_rank for r in en) == list(range(1, 11))
    de = [r for r in out1 if r.lang == "de"]
    assert de[0].strat_rank == 1 and de[0].selected


def test_shard_rows_determinism_and_balance(spark):
    """r13: shard assignment is a pure function of the id — identical
    across reruns and partitionings, positions are 1..n contiguous per
    shard, and md5 uniformity keeps shards roughly balanced."""
    import hashlib

    from realtime_market_data_pipeline_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    out1 = sorted(map(tuple, tx.shard_rows(df, n_shards=4).collect()))
    out2 = sorted(
        map(tuple, tx.shard_rows(df.repartition(7), n_shards=4).collect())
    )
    assert out1 == out2
    rows = {r[0]: r for r in map(tuple, out1)}

    def u48(i):
        return int(
            hashlib.md5(f"shard:v1{i}".encode()).hexdigest()[:12], 16
        )

    # shard replays the hash; positions contiguous from 1 per shard
    from collections import defaultdict

    per = defaultdict(list)
    for did, shard, pos in out1:
        assert shard == u48(did) % 4
        per[shard].append(pos)
    for shard, poss in per.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # md5 uniformity: no shard is pathologically empty at n=200
    assert min(len(v) for v in per.values()) > 20


def test_dsir_weights_selects_target_like_raw_docs(spark):
    """r12 (Xie et al. 2023): DSIR importance weights — raw docs sharing
    the target split's distinctive vocabulary must outweigh raw docs
    that don't, selection is exactly the top ceil(25%) of the RAW pool
    (ties by id), target docs are scored but never selected, and the
    decimal-summed weight replays a plain python fold of the same
    9-dp-rounded ln terms."""
    import hashlib
    import math

    from realtime_market_data_pipeline_spark.operators import text as tx

    target_text = "quantum flux capacitor resonance harmonics"
    rows = (
        # targets (is_target=True): ids 0..3, shared distinctive vocab
        [(i, True, target_text + f" probe{i}") for i in range(4)]
        # target-like raw docs: ids 10..13
        + [(10 + i, False, target_text + f" raw{i}") for i in range(4)]
        # off-target raw docs: ids 20..27
        + [
            (20 + i, False, f"mundane filler words item{i} common stuff")
            for i in range(8)
        ]
    )
    df = spark.createDataFrame(rows, "doc_id long, is_target boolean, text string")
    out = {
        r.doc_id: r
        for r in tx.dsir_weights(df, target_col="is_target").collect()
    }
    assert len(out) == 16
    # every target-like raw doc outweighs every off-target raw doc
    lo = max(out[20 + i].log_w for i in range(8))
    hi = min(out[10 + i].log_w for i in range(4))
    assert hi > lo
    # selection: ceil(0.25 * 12 raw docs) = 3, all from the target-like
    # group, none from targets
    sel = {d for d, r in out.items() if r.selected}
    assert len(sel) == 3 and sel <= {10, 11, 12, 13}
    assert all(not out[i].selected for i in range(4))
    # n_grams: unigrams + bigrams of the 6-token target-like docs = 11
    assert out[10].n_grams == 6 + 5
    # exact replay of one doc's weight: same buckets, same rounded lns,
    # summed exactly
    def bucket(g):
        h = hashlib.md5(g.encode()).hexdigest()
        return int(h[:15], 16) % 4096
    grams = {}
    for _i, (did, is_t, text) in enumerate(rows):
        t = text.split()
        gs = t + [f"{a} {b}" for a, b in zip(t, t[1:])]
        grams[did] = [bucket(g) for g in gs]
    cp, cq = {}, {}
    tp = tq = 0
    for did, is_t, _text in rows:
        for b in grams[did]:
            if is_t:
                cp[b] = cp.get(b, 0) + 1
                tp += 1
            else:
                cq[b] = cq.get(b, 0) + 1
                tq += 1
    from decimal import Decimal

    w = Decimal(0)
    for b in grams[10]:
        lp = round(math.log((cp.get(b, 0) + 1) / (tp + 4096)), 9)
        lq = round(math.log((cq.get(b, 0) + 1) / (tq + 4096)), 9)
        w += Decimal(repr(lp)) - Decimal(repr(lq))
    assert out[10].log_w == float(round(w, 6))


def test_gopher_repetition_signals_and_coverage(spark):
    """r12 (Rae et al. 2021 Appendix A Table A1): the repetition
    filters — duplicate line/paragraph (count + char) fractions are
    row-local array arithmetic, the n-gram signals are interval-union
    TOKEN COVERAGE (bounded [0,1] even on overlapping runs like
    'a a a a', where the naive count*len form reads 1.5), the top
    n-gram only counts when it actually repeats, and each planted
    repetition class fails exactly its rule family."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "plain words only here nothing repeats at all in sight"),
        (1, "first line\nrepeated line alpha\nrepeated line alpha"
            "\nrepeated line alpha"),
        (2, "intro para\n\nblock beta gamma\n\nblock beta gamma"),
        (3, "lead text " + ("spam ham " * 15).strip()),
        (4, "start " + ("the quick brown fox jumps high " * 3).strip()),
        (5, "a a a a"),
        (6, None),   # NULL text routes to keep=false (r13 advice fix)
        (7, ""),     # empty text is DEFINED under the \s+ tokenizer
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.gopher_repetition(df).collect()}
    # NULL text: n_toks=0, NULL signals, every pass false, keep=false
    # (previously F.size(NULL) = -1 flowed into the ratios and keep
    # came out NULL) — route-don't-raise, the quarantine convention
    assert out[6].n_toks == 0 and out[6].keep is False
    assert out[6].dup_line_frac is None and out[6].top2_cov_frac is None
    assert not any(
        out[6][f] for f in out[6].asDict() if f.startswith("pass_")
    )
    # empty text has one (empty) whitespace token: all signals defined
    # and zero, keep=true — rejecting empty docs is the STRUCTURAL
    # gate's job (gopher_quality min-word-count), not repetition's
    assert out[7].keep is True and out[7].n_toks == 1
    # clean doc keeps; its top bigram occurs once -> coverage 0
    assert out[0].keep and out[0].top2_cov_frac == 0.0
    # planted line dups: 2 of 4 lines are repeats
    assert not out[1].pass_dup_line_frac and out[1].dup_line_frac == 0.5
    # planted paragraph dup: 1 of 3 paragraphs repeats
    assert not out[2].pass_dup_para_frac
    assert out[2].dup_para_frac == 0.333333
    # dominant bigram run fails top2; its 5..10-gram repeats fail dup5
    assert not out[3].pass_top2_cov_frac
    assert not out[3].pass_dup5_cov_frac
    # repeated 6-token sentence: covered region ~18/19 tokens
    assert not out[4].pass_dup5_cov_frac
    # overlap boundedness: 'a a a a' -> top2 coverage exactly 1.0
    assert out[5].top2_cov_frac == 1.0
    for r in out.values():
        for c in ("top2_cov_frac", "top3_cov_frac", "top4_cov_frac",
                  "dup5_cov_frac", "dup10_cov_frac"):
            assert r[c] is None or 0.0 <= r[c] <= 1.0
        # keep is the conjunction of all 13 rules
        assert r.keep == all(
            r[f] for f in r.asDict() if f.startswith("pass_")
        )


def _counts(text):
    from realtime_market_data_pipeline_spark.operators import text as tx

    c = tx.repetition_counts(text)
    return None if c is None else dict(zip(tx.REPETITION_COUNT_FIELDS, c))


# Java's \s is [ \t\n\x0B\f\r]; NBSP (U+00A0) and EM SPACE (U+2003)
# are NOT whitespace to Spark's split and must stay inside tokens
_WS_DOCS = [
    "a\x0bb c",
    "a\x0cb\fc",
    "one\r\ntwo\r\nthree",
    "tab\tsep\t\tword",
    "nb\u00a0sp stays one",
    "em\u2003space stays one",
    "  lead and trail  ",
    "\t\n",
    "é é é",
    "",
]


def test_repetition_counts_whitespace_matches_spark_split(spark):
    """The pure repetition pass tokenizes exactly like Spark's
    split(text, '\\s+'): ASCII whitespace (incl. \\x0B and \\f) splits,
    Unicode spaces do not, leading/trailing runs yield empty tokens."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = list(enumerate(_WS_DOCS)) + [(len(_WS_DOCS), None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spark_n = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", F.size(F.split("text", r"\s+")).alias("n")
        ).collect()
    }
    op_n = {r.doc_id: r.n_toks for r in tx.gopher_repetition(df).collect()}
    for i, t in rows:
        if t is None:
            assert _counts(t) is None and op_n[i] == 0
            continue
        assert _counts(t)["n_toks"] == spark_n[i] == op_n[i], repr(t)
    assert _counts("nb\u00a0sp stays one")["n_toks"] == 3
    assert _counts("em\u2003space stays one")["n_toks"] == 3
    assert _counts("a\x0bb c")["n_toks"] == 3
    # leading and trailing runs each add one empty token
    assert _counts("  lead and trail  ")["n_toks"] == 5


def test_repetition_counts_edge_cases():
    """Exact counts on degenerate documents (no Spark needed)."""
    assert _counts(None) is None
    empty = _counts("")
    assert empty["n_toks"] == 1 and empty["line_n"] == 1
    assert empty["line_chars"] == 0 and empty["para_distinct_chars"] == 0
    assert all(v == 0 for k, v in empty.items() if k.endswith("_cov"))
    # 'a a a a': bigram at 0,1,2 and trigram at 0,1 cover all 4 tokens
    # once (interval union, never 1.5x); no 4-gram repeats
    aaaa = _counts("a a a a")
    assert (aaaa["top2_cov"], aaaa["top3_cov"], aaaa["top4_cov"]) == (4, 4, 0)
    # shorter than n: no n-gram exists, coverage 0
    short = _counts("x y x")
    assert short["top2_cov"] == 0 and short["dup5_cov"] == 0
    assert _counts("x x")["top2_cov"] == 0  # one bigram occurrence
    # lines and paragraphs keep empty pieces, like Spark's split
    segs = _counts("p\n\np\n\n")
    assert (segs["line_n"], segs["line_distinct"]) == (5, 2)
    assert (segs["para_n"], segs["para_distinct"]) == (3, 2)
    assert (segs["para_chars"], segs["para_distinct_chars"]) == (2, 1)
    # a repeated 5-token run: both occurrences covered, overlap merged
    run = _counts("q " + "a b c d e " * 2 + "z")
    assert run["dup5_cov"] == 10 and run["dup6_cov"] == 0
    # leading whitespace: the empty first token is a real gram member
    lead = _counts(" a a")
    assert lead["n_toks"] == 3 and lead["top2_cov"] == 0


def test_repetition_counts_top_tie_broken_by_md5():
    """Tied top n-gram counts resolve to the LARGEST md5 hex digest of
    the space-joined gram — the (count desc, digest desc) pick the
    DuckDB oracle replays. The two documents put the winner first and
    second in the text, with the larger and the smaller coverage, so
    neither text order nor coverage can stand in for the digest."""
    from hashlib import md5

    def hexd(g):
        return md5(g.encode()).hexdigest()

    # 'z z' at 0,1 (covers 3) ties 'u v' at 3,6 (covers 4)
    assert hexd("u v") > hexd("z z")
    assert _counts("z z z u v w u v")["top2_cov"] == 4
    # 'u u' at 0,1 (covers 3) ties 'a b' at 3,6 (covers 4)
    assert hexd("u u") > hexd("a b")
    assert _counts("u u u a b w a b")["top2_cov"] == 3


def test_warc_wrap_parse_split_roundtrip(spark):
    """r12: WARC crawl ingestion — wrap_warc plants spec-shaped
    response records in Column arithmetic, parse_warc recovers every
    field and the exact body shuffle-free, malformed records land as
    error_class rows, and split_warc_records walks a multi-record
    (optionally gzipped) WARC file by Content-Length framing into rows
    parse_warc then handles."""
    import gzip

    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import text as tx

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(30)
    want = {r.doc_id: r.text for r in docs.collect()}
    wrapped = tx.wrap_warc(docs)
    parsed = {r.doc_id: r for r in tx.parse_warc(wrapped).collect()}
    assert len(parsed) == len(want)
    for did, text in want.items():
        r = parsed[did]
        assert r.error_class is None
        assert r.warc_type == "response" and r.http_status == 200
        assert r.record_id == f"<urn:uuid:{did}>"
        assert r.target_uri == f"https://example.org/doc/{did}"
        assert r.body == text and r.n_body_bytes == len(text.encode())
    # the parse is a shuffle-free scan stage
    plan = tx.parse_warc(wrapped)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # fault classes: magic cut, truncated payload (Content-Length
    # disagrees), missing Content-Length header, and a non-response
    # record type that still parses
    good = [r.warc for r in wrapped.limit(1).collect()][0]
    info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            "WARC-Record-ID: <urn:uuid:info>\r\n"
            "Content-Type: application/warc-fields\r\n"
            "Content-Length: 9\r\n\r\nrobots: x")
    rows = [
        (1, good),
        (2, good[4:]),                 # magic cut
        (3, good[: len(good) - 5]),    # truncated payload
        (4, good.replace("Content-Length: ", "X-Length: ")),
        (5, info),                     # warcinfo: good, no http fields
        (6, None),                     # NULL payload quarantines (r13)
    ]
    by = {
        r.doc_id: r
        for r in tx.parse_warc(
            spark.createDataFrame(rows, "doc_id long, warc string")
        ).collect()
    }
    assert by[1].error_class is None
    assert by[2].error_class == "NotImplementedError"
    assert by[3].error_class == "ValueError"
    assert by[4].error_class == "ValueError"
    assert by[5].error_class is None and by[5].warc_type == "warcinfo"
    assert by[5].http_status is None and by[5].body is None
    # NULL routes to the quarantine lane, not an all-NULL "good" row
    assert by[6].error_class == "ValueError" and by[6].warc_type is None

    # splitter: 3 records concatenated with the spec's record gap, one
    # file plain and one gzipped; a trailing truncated record
    # quarantines without killing the walk
    three = (good + "\r\n\r\n" + info + "\r\n\r\n" + good + "\r\n\r\n")
    trunc = three + "WARC/1.0\r\nContent-Length: 999\r\n\r\nshort"
    files = [
        (10, bytearray(three.encode())),
        (11, bytearray(gzip.compress(three.encode()))),
        (12, bytearray(trunc.encode())),
        (13, None),
    ]
    fdf = spark.createDataFrame(files, "doc_id long, payload binary")
    recs = tx.split_warc_records(fdf).collect()
    by_file = {}
    for r in recs:
        by_file.setdefault(r.doc_id, []).append(r)
    assert len(by_file[10]) == 3
    assert [r.error_class for r in by_file[10]] == [None] * 3
    assert [r.warc for r in by_file[11]] == [r.warc for r in by_file[10]]
    assert len(by_file[12]) == 4
    assert by_file[12][3].error_class == "ValueError"
    assert by_file[13][0].error_class == "ValueError"
    # split -> parse composes: every good record parses clean
    reparsed = tx.parse_warc(
        tx.split_warc_records(fdf).filter(F.col("error_class").isNull())
        .select(F.col("doc_id"), F.col("warc"))
    ).collect()
    assert all(r.error_class is None for r in reparsed)


def test_url_features_parsing_and_blocklist(spark):
    """r12: URL/domain filtering — anchored-regexp host extraction
    handles case, userinfo, ports, IPv4 literals, multi-part suffixes
    (co.uk-style registered domains), unparseable strings route to
    NULL fields instead of failing, and the blocklist join is a
    broadcast flag on the registered domain."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "https://Example.ORG/a/b"),
        (1, "http://user:pw@Sub.Shop.co.uk:8080/x"),
        (2, "https://10.0.0.1/path"),
        (3, "not a url at all"),
        (4, "https://www.Blocked.Example/page?q=1"),
        (5, "https://[::1]:8080/x"),
    ]
    bl = spark.createDataFrame(
        [("blocked.example",), ("spam.test",)], "domain string"
    )
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r.doc_id: r
        for r in tx.url_features(df, blocklist=bl).collect()
    }
    assert out[0].host == "example.org"
    assert out[0].registered_domain == "example.org"
    assert out[0].tld == "org" and out[0].path_depth == 2
    assert out[1].host == "sub.shop.co.uk"
    assert out[1].registered_domain == "shop.co.uk"  # multi-part suffix
    assert out[1].tld == "uk" and out[1].path_depth == 1
    assert out[2].is_ip_host and out[2].registered_domain == "10.0.0.1"
    assert out[2].tld is None
    assert out[3].host is None and not out[3].is_blocked
    assert out[4].is_blocked and out[4].registered_domain == "blocked.example"
    assert out[4].path_depth == 1  # query string excluded
    assert out[5].host == "[::1]" and out[5].registered_domain is None
    assert not any(out[i].is_blocked for i in (0, 1, 2, 3, 5))
    # blocklist side is a broadcast join
    plan = tx.url_features(df, blocklist=bl)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_perplexity_buckets_null_score_ranks_last(spark):
    """r14 advice fix: a NULL-score doc must never rank into the
    'head' (best) bucket — ASC is NULLS LAST (the ANSI/DuckDB
    default), so any engine replays the bucket assignment on raw
    input, not just on the NULL-free certified composition."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "en", 1.0),
        (1, "en", 2.0),
        (2, "en", None),  # would be rank 1 ('head') under Spark asc()
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, avg_neg_logp double"
    )
    out = {r.doc_id: r for r in tx.perplexity_buckets(df).collect()}
    assert out[0].ppl_rank == 1 and out[0].bucket == "head"
    assert out[1].ppl_rank == 2 and out[1].bucket == "middle"
    assert out[2].ppl_rank == 3 and out[2].bucket == "tail"


def test_mixture_sample_null_domain_routed_not_dropped(spark):
    """r14 advice fix: rows with a NULL group value used to vanish
    through the inner histogram join (NULL keys never match); they
    must instead route through the unknown-domain kept=false path —
    'every input row ... never silently dropped'."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [(0, "en"), (1, "en"), (10, None), (11, None), (12, None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {
        r.doc_id: r
        for r in tx.mixture_sample(
            df, weights={"en": (1, 2)}, budget_n=2
        ).collect()
    }
    assert len(out) == 5  # all five input rows present
    for did in (10, 11, 12):
        r = out[did]
        assert r.lang is None
        assert r.n_group == 3  # NULL-domain rows histogram together
        assert r.p_sample is None and r.kept is False
    assert out[0].p_sample == 0.5 and out[0].n_group == 2


def test_pack_layout_and_documents_null_text_zero_tokens(spark):
    """r14 advice fix: token_count(NULL) is F.size(NULL) = -1, which
    silently shifted start_tok/seq_id for every subsequent doc in the
    group — a NULL-text doc must contribute exactly zero tokens (the
    c4_rules convention) in BOTH pack_layout and pack_documents."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "s", " ".join(["w"] * 6)),
        (1, "s", None),                  # zero tokens, not -1
        (2, "s", " ".join(["w"] * 4)),   # start must stay 6, not 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    lay = {r.doc_id: r for r in tx.pack_layout(df, ctx_tokens=8).collect()}
    assert lay[1].n_tokens == 0 and lay[1].start_tok == 6
    assert lay[1].n_spill == 0 and lay[1].spills_over is False
    assert lay[2].start_tok == 6 and lay[2].n_spill == 2

    man = {
        (r.source, r.seq_id): r
        for r in tx.pack_documents(df, ctx_tokens=8).collect()
    }
    # docs 0,1,2 all start in seq 0 (starts 0, 6, 6); total 10 tokens
    assert man[("s", 0)].n_docs == 3
    assert man[("s", 0)].n_tokens == 10


def test_pack_layout_nosplit_next_fit_and_truncation(spark):
    """r14: document-respecting (no-split) packing — next-fit per
    group in id order: a doc lands at the current fill iff it fits,
    else opens a new window; longer-than-ctx docs get a window alone
    with truncated=true; NULL-text docs count zero tokens; a
    zero-token doc after an overflowing doc opens a new window (the
    overflowed window is full by definition)."""
    from realtime_market_data_pipeline_spark.operators import text as tx

    rows = [
        (0, "s", " ".join(["w"] * 5)),   # seq 0, off 0, fill 5
        (1, "s", " ".join(["w"] * 3)),   # fits: seq 0, off 5, fill 8
        (2, "s", " ".join(["w"] * 2)),   # 8+2 > 8 -> seq 1, off 0
        (3, "s", " ".join(["w"] * 12)),  # 2+12 > 8 -> seq 2 alone, truncated
        (4, "s", None),                  # fill 12 > 8 -> seq 3, off 0, 0 tokens
        (5, "s", " ".join(["w"] * 4)),   # fits seq 3 at off 0
        (6, "t", " ".join(["w"] * 7)),   # fresh group: seq 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: r
        for r in tx.pack_layout_nosplit(df, ctx_tokens=8).collect()
    }
    assert (out[0].seq_id, out[0].offset_in_seq) == (0, 0)
    assert (out[1].seq_id, out[1].offset_in_seq) == (0, 5)
    assert (out[2].seq_id, out[2].offset_in_seq) == (1, 0)
    assert (out[3].seq_id, out[3].offset_in_seq, out[3].truncated) == (
        2, 0, True,
    )
    assert (out[4].seq_id, out[4].n_tokens) == (3, 0)
    assert (out[5].seq_id, out[5].offset_in_seq) == (3, 0)
    assert out[6].seq_id == 0 and not out[6].truncated
    assert not out[0].truncated
