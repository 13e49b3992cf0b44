"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, document fingerprinting.

Hot-path logic is built-in Column expressions (split/transform/aggregate/
md5), so the operators stay inside whole-stage codegen and scale linearly
with partitions. The exception is ``gopher_repetition``: its n-gram counts
come from one row-local pickled Python UDF (``repetition_counts``), so
Python workers must be able to import this package. Each operator has an
exact ANSI-SQL twin used as its DuckDB oracle
(realtime_market_data_pipeline_spark.queries).

The heuristics are deliberately simple, deterministic functions of the text
(marker-word counts, ratios); on a real corpus you would swap the marker
lists / thresholds, not the dataflow.
"""

from __future__ import annotations

import re
from collections import Counter
from hashlib import md5

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker ("stop") words per language for the n-gram-free language-ID
# heuristic. Deterministic tie-break: fixed language order, then 'und'.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "es"),
    "fr": ("le", "la", "les", "et", "des", "une", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
}
STOPWORDS = LANG_MARKERS["en"]

# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-alphanumeric glyphs — a common pre-tokenizer approximation.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(col: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokens as array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, pattern)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish tokens via regexp_count — a cheap proxy for LLM token
    counting when the real tokenizer isn't on the cluster."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = tokens(text_col)
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        bpe_token_count(text_col).alias("n_bpe_tokens"),
        F.length(text_col).cast("long").alias("n_chars_computed"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


def quality_score(text_col: str = "text") -> Column:
    """Composite quality score as one per-row Column (rounded 6 dp, exactly
    the ``quality_score`` column of ``with_quality_scores``) — lets a
    pipeline apply the quality gate as a shuffle-free ``filter`` instead of
    computing the score table and joining it back."""
    toks = tokens(text_col)
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    uniq = F.size(F.array_distinct(toks))
    stop_ratio = stop_hits.cast("double") / n
    uniq_ratio = uniq.cast("double") / n
    return F.round(
        F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
        * F.when(stop_ratio > 0.01, F.lit(1.0)).otherwise(F.lit(0.8))
        * uniq_ratio,
        6,
    )


def with_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality signals: length, mean token length, stopword ratio, distinct
    ratio, + a composite score. All ratios are exact rational arithmetic on
    counts (int/int division in double — bit-identical across engines)."""
    toks = tokens(text_col)
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    uniq = F.size(F.array_distinct(toks))
    mean_tok_len = (F.length(text_col) - (n - 1)).cast("double") / n  # chars minus separators
    stop_ratio = stop_hits.cast("double") / n
    uniq_ratio = uniq.cast("double") / n
    return df.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        quality_score(text_col).alias("quality_score"),
    )


GOPHER_REQUIRED_WORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    required_words: tuple[str, ...] = GOPHER_REQUIRED_WORDS,
    min_required_hits: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    Methods, Analysis & Insights from Training Gopher", Appendix A —
    the public doc-level heuristics every large-scale text pipeline
    reimplements; as dataflow, not a port): per-document repetition-free
    structural filters, each a pure codegen Column so the gate runs as
    a shuffle-free ``filter`` over a 100 TB scan:

    - word count in [min_words, max_words];
    - mean word length in [min_mean_word_len, max_mean_word_len]
      (Σ token chars / n, rounded 6 dp like every cross-engine ratio);
    - symbol-to-word ratio ('#' occurrences + '...' occurrences) / n
      <= max_symbol_ratio;
    - <= max_bullet_ratio of lines start with a bullet ('- ', '* ',
      '• '); paper: reject if > 90% bulleted;
    - <= max_ellipsis_ratio of lines end with '...';
    - >= min_alpha_ratio of words contain at least one alphabetic
      character;
    - >= min_required_hits distinct required stop words present
      (paper: 2 of the/be/to/of/and/that/have/with — the "stop word"
      rule that kills lorem-ipsum-like and navigational pages).

    Output: one row per doc with every measured signal, each rule's
    boolean, and the conjunction ``keep`` — signals stay inspectable
    (the paper's rules are tuned per corpus; a pipeline retunes on the
    signal columns without re-scanning). Ratios are exact rational
    count arithmetic in double, so a DuckDB twin replays them
    bit-identically."""
    t = F.col(text_col)
    toks = tokens(t)
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_len = F.round(sum_len.cast("double") / n, 6)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_dots = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.round((n_hash + n_dots).cast("double") / n, 6)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("- ")
            | ln.startswith("* ")
            | ln.startswith("• "),
        )
    )
    n_ellipsis = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    bullet_ratio = F.round(n_bullet.cast("double") / n_lines, 6)
    ellipsis_ratio = F.round(n_ellipsis.cast("double") / n_lines, 6)
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = F.round(n_alpha.cast("double") / n, 6)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in required_words]),
        )
    )
    r_words = (n >= min_words) & (n <= max_words)
    r_mean = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_bullet = bullet_ratio <= max_bullet_ratio
    r_ellipsis = ellipsis_ratio <= max_ellipsis_ratio
    r_alpha = alpha_ratio >= min_alpha_ratio
    r_stop = stop_hits >= min_required_hits
    return df.select(
        id_col,
        *extra_cols,
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_line_ratio"),
        ellipsis_ratio.alias("ellipsis_line_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("n_required_stopwords"),
        r_words.alias("pass_word_count"),
        r_mean.alias("pass_mean_word_len"),
        r_symbol.alias("pass_symbol_ratio"),
        r_bullet.alias("pass_bullet_lines"),
        r_ellipsis.alias("pass_ellipsis_lines"),
        r_alpha.alias("pass_alpha_words"),
        r_stop.alias("pass_stopwords"),
        (
            r_words & r_mean & r_symbol & r_bullet & r_ellipsis
            & r_alpha & r_stop
        ).alias("keep"),
    )


GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2_cov_frac": 0.20,
    "top3_cov_frac": 0.18,
    "top4_cov_frac": 0.16,
    "dup5_cov_frac": 0.15,
    "dup6_cov_frac": 0.14,
    "dup7_cov_frac": 0.13,
    "dup8_cov_frac": 0.12,
    "dup9_cov_frac": 0.11,
    "dup10_cov_frac": 0.10,
}


# Java's \s (Spark's split regex dialect): ASCII whitespace only, so NBSP
# and the other Unicode spaces stay inside tokens exactly as in Spark
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
REPETITION_COUNT_FIELDS = (
    "n_toks",
    "line_n", "line_distinct", "line_chars", "line_distinct_chars",
    "para_n", "para_distinct", "para_chars", "para_distinct_chars",
    *(f"top{n}_cov" for n in (2, 3, 4)),
    *(f"dup{n}_cov" for n in range(5, 11)),
)


def repetition_counts(text: str | None) -> tuple[int, ...] | None:
    """Exact integer counts behind every Gopher repetition signal of one
    document, in ``REPETITION_COUNT_FIELDS`` order (None for NULL text).

    Tokens are Spark's ``split(text, '\\s+')``; lines and paragraphs
    split on '\\n' and '\\n\\n' (empty pieces kept, like Spark's split).
    ``top{n}_cov`` is the interval-union token coverage of the most
    frequent n-gram when it occurs >= 2 times, ties to the largest md5
    hex digest of the space-joined gram; ``dup{n}_cov`` covers every
    n-gram occurring >= 2 times. A repeated n-gram contains a repeated
    (n-1)-gram, so once an n has no repeats every larger n is 0."""
    if text is None:
        return None
    toks = _JAVA_WS.split(text)
    out = [len(toks)]
    for segs in (text.split("\n"), text.split("\n\n")):
        distinct = set(segs)
        out += [len(segs), len(distinct),
                sum(map(len, segs)), sum(map(len, distinct))]
    for n in range(2, 11):
        grams = list(zip(*(toks[k:] for k in range(n))))
        counts = Counter(grams)
        top = max(counts.values(), default=0)
        if top < 2:
            out += [0] * (11 - n)
            break
        if n <= 4:
            best = max(
                (g for g, c in counts.items() if c == top),
                key=lambda g: md5(" ".join(g).encode()).hexdigest(),
            )
            starts = (i for i, g in enumerate(grams) if g == best)
        else:
            starts = (i for i, g in enumerate(grams) if counts[g] >= 2)
        # ascending starts of equal-length intervals: each adds what
        # sticks out past the previous end
        cov = end = 0
        for i in starts:
            cov += i + n - max(i, end)
            end = i + n
        out.append(cov)
    return tuple(out)


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict[str, float] | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher REPETITION filters (Rae et al. 2021 Appendix A, Table A1 —
    the other half of the Gopher gate: ``gopher_quality`` covers the
    structural rules, this covers repetitious documents; as dataflow,
    not a port). Thirteen signals per document, paper thresholds as
    defaults:

    - duplicate line / paragraph FRACTION (occurrences beyond the
      first, over the line/paragraph count) <= 0.30 each;
    - duplicate line / paragraph CHARACTER fraction (characters in
      occurrences beyond the first, over the segment characters)
      <= 0.20 each (n − n_distinct and Σlen − Σlen(distinct));
    - TOP n-gram COVERAGE fraction for n=2,3,4: tokens covered by the
      occurrences of the most frequent word n-gram (interval union, so
      overlapping occurrences never double-count), over the token
      count, and only when that gram occurs >= 2 times; thresholds
      0.20/0.18/0.16, tie-broken deterministically by
      (count desc, digest desc);
    - DUPLICATE n-gram COVERAGE fraction for n=5..10: tokens covered
      by occurrences of ANY n-gram occurring >= 2 times (one merged
      interval union per doc), over the token count; thresholds
      0.15/0.14/0.13/0.12/0.11/0.10.

    The paper states the n-gram signals as CHARACTER fractions;
    token-coverage is the same monotone signal made well-defined and
    bounded [0,1] under the \\s+ tokenizer (char offsets into the raw
    text are ambiguous once consecutive whitespace collapses, and the
    naive Σ count·len form exceeds 1 on overlapping runs — 'a a a a'
    counts the middle tokens twice). Column names say cov, not char,
    to keep the departure visible.

    Scale shape: every signal is a function of ONE document, so
    nothing leaves its row — ZERO keyed exchanges, no join-back. The
    counts come from one pickled Python UDF per row
    (``repetition_counts``: exact integers, one pass over the grams);
    the ratios, their 6 dp rounding and the pass/keep logic stay Spark
    expressions. (Spark interprets higher-order-function lambdas
    element by element, and analysing a chain of them cost more driver
    time per micro-batch than the Python pass costs in total.) Every
    count and interval length is an exact integer, so the 6 dp ratio
    rounding cannot diverge cross-engine; the md5 digest keeps the
    tie-break ANSI-replayable (string comparison on lowercase hex is
    identical in Spark and DuckDB). The UDF pickles
    ``repetition_counts`` by reference, so Python workers must be able
    to import this package (as for the ``streaming/stateful.py``
    operators).

    Parallelism guard: a zero-shuffle plan runs on exactly as many
    tasks as the scan has splits, so a small single-file input would
    serialize the (heavy) per-row gram work onto one core. When the
    incoming partition count is below the session's default
    parallelism the text is round-robin repartitioned ONCE — a single
    narrow exchange of (id, text); on a real multi-split corpus (the
    100 TB case) the condition is false and the plan stays
    shuffle-free."""
    from realtime_market_data_pipeline_spark.io import ensure_parallelism

    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        th.update(thresholds)
    counts = F.udf(
        repetition_counts,
        "struct<" + ", ".join(
            f"{f}: bigint" for f in REPETITION_COUNT_FIELDS
        ) + ">",
        useArrow=False,
    )
    base = ensure_parallelism(df).select(
        id_col, *extra_cols, counts(F.col(text_col)).alias("__c")
    )
    # The Spark side is SQL expression text: every Python Column builder
    # is one py4j round trip, and building these ~30 expressions that
    # way took ~2,500 of them (about 1 s of driver time per call).
    keys = ["`" + c.replace("`", "``") + "`" for c in (id_col, *extra_cols)]

    def ratio(num: str, den: str) -> str:
        return f"round(CAST({num} AS DOUBLE) / {den}, 6)"

    fracs = {}
    for seg in ("line", "para"):
        n, chars = f"__c.{seg}_n", f"__c.{seg}_chars"
        fracs[f"dup_{seg}_frac"] = ratio(f"{n} - __c.{seg}_distinct", n)
        fracs[f"dup_{seg}_char_frac"] = (
            f"CASE WHEN {chars} > 0 THEN "
            f"{ratio(f'{chars} - __c.{seg}_distinct_chars', chars)} "
            f"WHEN {chars} = 0 THEN 0.0D END"
        )
    # n_toks > 0 guards the division itself (ANSI mode raises on /0)
    for cov in (f for f in REPETITION_COUNT_FIELDS if f.endswith("_cov")):
        fracs[f"{cov}_frac"] = (
            f"CASE WHEN __c.n_toks > 0 THEN "
            f"{ratio(f'__c.{cov}', '__c.n_toks')} END"
        )
    # NULL text: the route-don't-raise convention — n_toks=0, NULL
    # signals, and every pass coalesces NULL -> false, so keep=false
    sig = base.selectExpr(
        *keys,
        "CAST(coalesce(__c.n_toks, 0) AS INT) AS n_toks",
        *[f"{e} AS {name}" for name, e in fracs.items()],
    )
    passes = {
        name: f"coalesce({name} <= {float(th[name])!r}D, false)"
        for name in fracs
    }
    return sig.selectExpr(
        *keys,
        "n_toks",
        *fracs,
        *[f"{e} AS pass_{name}" for name, e in passes.items()],
        " AND ".join(passes.values()) + " AS keep",
    )


C4_BAD_WORDS: tuple[str, ...] = ("badword1", "badword2")
C4_LINE_DROP_SUBSTRINGS: tuple[str, ...] = (
    "javascript",
    "cookie",
    "privacy policy",
)


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    min_sentences: int = 5,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
    line_drop_substrings: tuple[str, ...] = C4_LINE_DROP_SUBSTRINGS,
) -> DataFrame:
    """C4 cleanup rules (Raffel et al. 2020 §2.2) — the OTHER standard
    web-text filter family next to ``gopher_quality`` (doc-level
    structural signals) and ``remove_boilerplate_lines`` (corpus-
    frequency line dedup): C4 is LINE-RULE based. Per line, keep only
    lines that (a) end in a terminal punctuation mark ('.', '!', '?',
    '"'), (b) contain at least ``min_line_words`` words, and (c) do
    not mention any ``line_drop_substrings`` (the paper drops lines
    with "javascript" and cookie/policy notices). Per document, after
    line cleanup: drop the whole page when the CLEANED text has fewer
    than ``min_sentences`` sentences (terminal-punctuation count), or
    the RAW text contains a bad word, "lorem ipsum", or a curly brace
    (code markup). Word lists are caller-tuned per corpus, exactly as
    the paper tunes its List-of-Dirty-Naughty-Obscene-Words.

    Returns (id, clean_text, n_lines, n_kept_lines, n_sentences,
    has_bad_word, has_lorem, has_brace, keep).

    Scale shape: the whole family is pure codegen Column work over the
    scan — split / higher-order filter / array_join / replace-count —
    ZERO shuffle and zero Python; at 100 TB this is a map-only stage
    whose output feeds the dedup/selection passes."""
    t = F.col(text_col)
    low = F.lower(t)

    def _line_ok(line: Column) -> Column:
        words = F.size(
            F.filter(F.split(line, r"\s+"), lambda x: x != F.lit(""))
        )
        ok = F.right(line, F.lit(1)).isin(".", "!", "?", '"')
        ok = ok & (words >= min_line_words)
        llow = F.lower(line)
        for s in line_drop_substrings:
            ok = ok & ~llow.contains(s)
        return ok

    lines = F.split(t, "\n", -1)
    kept = F.filter(lines, _line_ok)
    clean = F.array_join(kept, "\n")

    def _char_count(col: Column, ch: str) -> Column:
        return F.length(col) - F.length(F.replace(col, F.lit(ch)))

    n_sentences = (
        _char_count(clean, ".")
        + _char_count(clean, "!")
        + _char_count(clean, "?")
    ).cast("int")
    has_bad = F.lit(False)
    for w in bad_words:
        has_bad = has_bad | low.contains(w)
    # NULL-text guard (the gopher_repetition r12-advice convention):
    # F.size(NULL) is -1 and NULL propagates through the booleans, so
    # without the guard a NULL doc emits nonsense signals and a NULL
    # keep. Route it explicitly: NULL signals, keep=false.
    ok = t.isNotNull()
    out = df.select(
        F.col(id_col),
        F.when(ok, clean).alias("clean_text"),
        F.when(ok, F.size(lines)).cast("int").alias("n_lines"),
        F.when(ok, F.size(kept)).cast("int").alias("n_kept_lines"),
        F.when(ok, n_sentences).alias("n_sentences"),
        F.when(ok, has_bad).alias("has_bad_word"),
        F.when(ok, low.contains("lorem ipsum")).alias("has_lorem"),
        F.when(ok, t.contains("{")).alias("has_brace"),
    )
    return out.withColumn(
        "keep",
        F.coalesce(
            (F.col("n_sentences") >= min_sentences)
            & ~F.col("has_bad_word")
            & ~F.col("has_lorem")
            & ~F.col("has_brace"),
            F.lit(False),
        ),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: score = hits of each language's marker list;
    CJK-codepoint presence short-circuits to 'zh'; argmax with fixed-order
    tie-break; 'und' when no markers hit at all."""
    toks = tokens(text_col)

    def _hits(markers: tuple[str, ...]) -> Column:
        # closure factory, NOT a default-arg lambda: PySpark infers lambda
        # arity from the signature, and extra default args break it
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: _hits(markers) for lang, markers in LANG_MARKERS.items()}
    has_cjk = F.regexp_count(F.col(text_col), F.lit(r"[一-鿿]")) > 0
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        better = scores[lang] > best_score
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    pred = (
        F.when(has_cjk, F.lit("zh"))
        .when(best_score == 0, F.lit("und"))
        .otherwise(best)
    )
    out = df.select("doc_id", F.col("lang").alias("lang_label"), pred.alias("lang_pred"))
    return out.withColumn(
        "is_match", (F.col("lang_pred") == F.col("lang_label")).cast("int")
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """k-word shingles as array<string> (contract for minhash / jaccard
    dedup). Empty array when the doc has fewer than k tokens."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - k)  # inclusive
    make = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(n >= k, make).otherwise(F.array().cast("array<string>"))


def shingles_long(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Distinct k-word shingles in LONG form — one (id, shingle) row each —
    via ``posexplode`` + ``lead`` window.

    This is the hot-path twin of ``shingles``: array higher-order functions
    (``transform`` lambdas) run on Catalyst's row-at-a-time expression
    interpreter, outside whole-stage codegen, which dominates runtime when a
    dedup pipeline evaluates them millions of times. The exploded form keeps
    every expression (split, lead, concat_ws, md5 downstream) codegen-able;
    the one added cost is the per-doc sort inside the lead window — a shuffle
    on id_col that the downstream groupBy(id_col) then reuses, so at 100 TB
    this costs one exchange, not two.

    Docs with fewer than k tokens yield no rows (the array form yields an
    empty array — callers that must keep such docs re-join on id_col).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    lead_cols = [F.col("tok").alias("_t0")] + [
        F.lead("tok", j).over(w).alias(f"_t{j}") for j in range(1, k)
    ]
    full = toks.select(id_col, *lead_cols).filter(
        F.col(f"_t{k - 1}").isNotNull()
    )
    sh = full.select(
        id_col,
        F.concat_ws(" ", *[F.col(f"_t{j}") for j in range(k)]).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


def with_repetition_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: total / distinct bigram
    occurrences, the most-frequent bigram's count, and the fraction of
    bigram occurrences belonging to a repeated bigram (the 'duplicate
    n-gram fraction' quality-filter rule). Two chained aggregations over the
    exploded bigram relation — partial aggregation shrinks the first
    shuffle to (doc, bigram) partial counts, and the second groupBy reuses
    the same id partitioning. Docs with < 2 tokens yield no row."""
    bg = shingles_long(df, text_col, id_col, k=2, distinct=False)
    cnt = bg.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("c"))
    dup_occ = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return cnt.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("top_bigram_count"),
        F.round(dup_occ.cast("double") / F.sum("c").cast("double"), 6).alias(
            "dup_bigram_fraction"
        ),
    )


def normalize_text(col: Column | str) -> Column:
    """Cleaning normalization: lowercase, non-alphanumerics → space, collapse
    runs of whitespace, trim — the canonical pre-dedup/pre-tokenize step.
    Three regex passes, all codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 100,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-count chunks (optionally overlapping
    via ``stride`` < chunk_tokens) — the LLM-training packing primitive.

    One row per chunk: (id, chunk_idx, chunk_text, n_chunk_tokens). Pure
    expression pipeline: chunk starts are a ``sequence`` exploded flat, the
    chunk text a ``slice`` + ``concat_ws`` — row-expanding but shuffle-free,
    so 100 TB chunks stream straight from scan to sink."""
    stride = stride or chunk_tokens
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    out = df.select(
        F.col(id_col),
        toks.alias("_t"),
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", F.slice("_t", F.col("_start"), chunk_tokens)).alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start") + 1).alias(
            "n_chunk_tokens"
        ),
    )


def split_bucket(id_col: str = "doc_id", salt: str = "split:v1") -> Column:
    """Deterministic hash bucket in [0,256): first two hex digits of
    md5(salt || id). A pure per-row function of the id — stable across runs,
    partitionings and engines; the md5-digit arithmetic keeps it
    reproducible in ANSI SQL for the oracles."""
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))

    def hexval(pos: int) -> Column:
        d = F.ascii(F.substring(h, pos, 1))
        return F.when(d >= 97, d - 87).otherwise(d - 48)

    return hexval(1) * 16 + hexval(2)


def sample_key48(id_col: str = "doc_id", salt: str = "wsample:v1") -> Column:
    """48-bit uniform key from the first 12 hex digits of md5(salt || id) —
    the wide sibling of ``split_bucket`` for sampling decisions that need
    finer than 1/256 resolution. A pure per-row function of the id (stable
    across runs, partitionings, engines); fits a BIGINT, and the hex-digit
    arithmetic is replayable in ANSI SQL for the oracles."""
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long")


def weighted_sample_pps(
    df: DataFrame,
    weight_col: str,
    n_target: int,
    id_col: str = "doc_id",
    salt: str = "wsample:v1",
) -> DataFrame:
    """Probability-proportional-to-size Poisson sampling: row i is kept with
    p_i = min(1, n_target · w_i / Σw) — e.g. sample documents proportional
    to token count so the kept set is token-budget-weighted (the epoch-
    weighting primitive of LLM data curation). Membership is deterministic:
    keep iff u48_i · Σw < n_target · w_i · 2⁴⁸, evaluated in exact integer
    arithmetic (DECIMAL(38,0) — no float threshold, no Bernoulli rand()),
    so new rows never perturb old membership and any engine that can md5
    reproduces the sample bit-for-bit.

    Scale shape: one map-side-combined 1-row total (broadcast back via
    crossJoin); membership is then per-row and shuffle-free. Rows with
    w ≥ Σw / n_target are always kept (the min(1, ·) cap falls out of the
    strict inequality); zero-weight rows are never kept.

    Contract: the weight column must be an integral type. The exact-integer
    membership test casts w to DECIMAL(38,0) (which ROUNDS fractional
    values) while the total would truncate via cast('long') — fractional
    weights would silently break the claimed p_i = n·w/Σw semantics and
    oracle parity, so they are rejected loudly instead."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    wtype = df.schema[weight_col].dataType
    if not isinstance(wtype, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"weighted_sample_pps requires an integral weight column; "
            f"{weight_col} is {wtype.simpleString()} — pre-scale fractional "
            "weights to integers (e.g. micro-units) before sampling"
        )
    d0 = "decimal(38,0)"
    tot = df.agg(F.sum(F.col(weight_col).cast("long")).alias("tot"))
    j = df.crossJoin(F.broadcast(tot))
    keep = j.where(
        sample_key48(id_col, salt).cast(d0) * F.col("tot").cast(d0)
        < F.lit(n_target).cast(d0)
        * F.col(weight_col).cast(d0)
        * F.lit(2**48).cast(d0)
    )
    return keep.select(
        id_col,
        weight_col,
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(float(n_target)) * F.col(weight_col))
                / F.col("tot").cast("double"),
            ),
            6,
        ).alias("p_inclusion"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, tuple[int, int]],
    budget_n: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix:v1",
) -> DataFrame:
    """Domain-mixture sampling (the mT5/XLM-R temperature-sampling /
    DoReMi domain-weights step as dataflow): given OFFLINE-computed
    mixture weights w_d (exact rationals num/den — temperature
    p_d ∝ n_d^α is calibrated on the tiny domain histogram outside
    the engine, like every other model this repo broadcasts), sample
    each domain at rate p_d = min(1, budget_n · w_d / n_d) so the
    kept set approximates the target mixture at ``budget_n`` docs.
    Membership is the ``weighted_sample_pps`` exact-integer test —
    keep iff u48 · den · n_d < budget_n · num · 2^48 in
    DECIMAL(38,0) — never Bernoulli rand(), so membership is stable
    under reruns, repartitioning, and engines. Domains absent from
    ``weights`` rate 0 and route to kept=false (never silently
    dropped).

    Output: every input row as (id, group, n_group, p_sample 6 dp,
    kept).

    Scale shape: the domain histogram is one map-side-combined agg
    (rows = #domains, broadcast back); membership is then per-row
    and shuffle-free — one tiny exchange per 100 TB pass."""
    d0 = "decimal(38,0)"
    # coalesce the group key to a sentinel BEFORE the groupBy/join:
    # an inner join on a NULL key never matches, so NULL-domain rows
    # would vanish from the output entirely, contradicting the
    # "every input row ... never silently dropped" contract — route
    # them through the unknown-domain kept=false path instead (r13
    # advice). The sentinel only keys the histogram/join; the emitted
    # group column and the weights CASE both see the original value.
    sentinel = "\x00__null_domain__"
    gk = F.coalesce(F.col(group_col).cast("string"), F.lit(sentinel))
    counts = df.groupBy(gk.alias("_gk")).agg(
        F.count(F.lit(1)).cast("long").alias("n_group")
    )
    wnum = F.lit(None).cast("long")
    wden = F.lit(None).cast("long")
    for dom, (num, den) in sorted(weights.items()):
        wnum = F.when(F.col(group_col) == dom, F.lit(num)).otherwise(wnum)
        wden = F.when(F.col(group_col) == dom, F.lit(den)).otherwise(wden)
    j = df.select(
        F.col(id_col), F.col(group_col), gk.alias("_gk")
    ).join(F.broadcast(counts), "_gk")
    kept = F.coalesce(
        sample_key48(id_col, salt).cast(d0)
        * wden.cast(d0)
        * F.col("n_group").cast(d0)
        < F.lit(budget_n).cast(d0) * wnum.cast(d0) * F.lit(2**48).cast(d0),
        F.lit(False),
    )
    # least() ignores NULLs in every engine, so an unknown domain would
    # silently read p=1.0 — guard it to NULL explicitly
    p = F.when(
        wnum.isNotNull(),
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(float(budget_n)) * wnum.cast("double"))
                / (wden.cast("double") * F.col("n_group").cast("double")),
            ),
            6,
        ),
    )
    return j.select(
        F.col(id_col),
        F.col(group_col),
        F.col("n_group"),
        p.alias("p_sample"),
        kept.alias("kept"),
    )


def stratified_sample_exact(
    df: DataFrame,
    quota_n: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat:v1",
) -> DataFrame:
    """EXACT per-stratum quota sampling: within each group, rank rows
    by the deterministic 48-bit hash key (``sample_key48`` — a stable
    pseudo-random order; ties broken by id) and keep the first
    ``quota_n`` — the balanced-eval-set / per-language-holdout
    primitive (Poisson sampling like ``mixture_sample`` hits quotas
    only in expectation; audits and eval sets want exactly N per
    stratum). Deterministic: membership never changes across reruns
    or partitionings, and appending NEW rows can displace at most the
    highest-keyed members (the standard bottom-k sketch property).

    Output: every row as (id, group, strat_rank, selected).

    Scale shape: one per-group rank window (groups are few and
    bounded — keyed range sort, no global order). At 100 TB replace
    the full window with a per-group bottom-k TakeOrdered over the
    hash key — same membership by construction."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        sample_key48(id_col, salt).asc(), F.col(id_col).asc()
    )
    rank = F.row_number().over(w)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        rank.cast("int").alias("strat_rank"),
        (rank <= quota_n).alias("selected"),
    )


def shard_rows(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "shard:v1",
) -> DataFrame:
    """Deterministic training-shard assignment — the reproducible
    GLOBAL SHUFFLE every training run needs (data order must be
    replayable for loss-curve debugging and elastic restarts): shard
    = u48 % n_shards (md5-uniform, so shards balance at any corpus
    size), and the read order WITHIN each shard is the rank of the
    same u48 key (ties to id) — a pure function of the id, so adding
    workers, repartitioning, or re-running never changes what
    example t of shard s is.

    Output: every row as (id, shard, shard_pos).

    Scale shape: the assignment is per-row codegen; the within-shard
    rank is one window per shard (n_shards partitions, each a keyed
    range sort — no global order anywhere). A writer materializing
    actual shard files would repartition(n_shards, shard) and
    sortWithinPartitions(shard_pos) — the same exchange this rank
    already paid."""
    from pyspark.sql.window import Window

    key = sample_key48(id_col, salt)
    w = Window.partitionBy("shard").orderBy(
        F.col("_k").asc(), F.col(id_col).asc()
    )
    return (
        df.select(
            F.col(id_col),
            (key % n_shards).cast("int").alias("shard"),
            key.alias("_k"),
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("int"))
        .drop("_k")
    )


def with_split_assignment(
    df: DataFrame,
    train_pct: int = 80,
    id_col: str = "doc_id",
    salt: str = "split:v1",
) -> DataFrame:
    """Deterministic train/eval split: bucket = ``split_bucket`` → [0,256);
    train iff bucket < 256·train_pct/100. Hash-based (not sampleBy) so
    membership is a pure function of the id and new data lands in the same
    split forever."""
    threshold = int(256 * train_pct / 100)
    return df.withColumn("bucket", split_bucket(id_col, salt)).withColumn(
        "split", F.when(F.col("bucket") < threshold, F.lit("train")).otherwise(F.lit("eval"))
    )


def decontaminate_against_eval(
    df: DataFrame,
    k: int = 8,
    train_pct: int = 80,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split:v1",
    broadcast_eval: bool = False,
    bloom_bits: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag train-split documents sharing any
    k-gram with any eval-split document (the exact-substring contamination
    sweep run before LLM training; long k keeps it selective — 8 here,
    8–13 in published pipelines). Splits come from the same ``split_bucket``
    hash as ``with_split_assignment``, so this composes with the split
    operator: what it flags is precisely "train text the eval benchmark has
    seen".

    Output: one row per train doc — (doc_id, n_shared_ngrams = distinct
    k-grams of this doc that occur anywhere in eval, contaminated bool).

    Dataflow at 100 TB: one scan feeds both sides (the split is a per-row
    hash filter, not a join); shingles come from the codegen'd long-form
    explode (``shingles_long``); the shingle equi-join is keyed on the
    k-gram string. A real benchmark set is tiny next to the corpus, so its
    distinct-shingle side broadcasts (pass ``broadcast_eval=True`` to force
    it; AQE does it automatically when sizes justify) and the sweep costs
    ONE pass + one keyed aggregation; at this synthetic 80/20 split the
    shuffle join is the right plan and AQE keeps it.

    ``bloom_bits`` (r8) selects the middle regime — eval too big to
    broadcast as a hash relation, corpus too big to shuffle wholesale:
    a bloom of the eval shingles (``operators/bloom``) prefilters the
    train side BEFORE the equi-join's exchange, so the shuffle carries
    ~contaminated + FPR·clean shingles instead of every train shingle;
    blooms have no false negatives and the join re-verifies, so the
    result is identical in all three regimes."""
    bucket = split_bucket(id_col, salt)
    cut = int(256 * train_pct / 100)
    sh = shingles_long(df, text_col, id_col, k=k)
    sh_bucket = split_bucket(id_col, salt)  # recomputed on the long form
    ev = sh.filter(sh_bucket >= cut).select("shingle").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    train_sh = sh.filter(sh_bucket < cut)
    if bloom_bits:
        from realtime_market_data_pipeline_spark.operators import bloom

        bm = bloom.bloom_build(ev, "shingle", m_bits=bloom_bits)
        train_sh = (
            bloom.attach_bloom(train_sh, bm)  # broadcast, not plan literal
            .filter(
                bloom.bloom_might_contain(
                    F.col(bloom.BLOOM_COL), F.col("shingle"), bloom_bits
                )
            )
            .drop(bloom.BLOOM_COL)
        )
    hits = (
        train_sh
        .join(ev, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    return (
        df.filter(bucket < cut)
        .select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_ngrams", F.lit(0)).cast("long").alias("n_shared_ngrams"),
            (F.coalesce("n_shared_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pack_documents(
    df: DataFrame,
    ctx_tokens: int = 256,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing plan: concatenate each group's documents in
    id order and split the token stream into fixed ``ctx_tokens`` context
    windows; a document belongs to the window its first token lands in
    (row-preserving assignment — no text is materialized, only the layout).
    Output: one row per (group, seq_id) with n_docs and n_tokens — the pack
    manifest a training-data writer would consume.

    All integer arithmetic (running token offsets via a window cumsum), so
    it is exact in any engine. At 100 TB the window sort is per-group
    (sources/shards are numerous and bounded), the running sum is a single
    sort-based window — no global ordering anywhere — and the following
    per-(group, seq) aggregation map-side-combines down to one row per
    context window."""
    from pyspark.sql.window import Window

    # NULL-text guard (r13 advice, the c4_rules convention):
    # token_count(NULL) is F.size(NULL) = -1, which would silently
    # shift every subsequent doc's offsets in the same group — a
    # NULL-text doc contributes zero tokens instead
    n = F.when(
        F.col(text_col).isNotNull(), token_count(text_col)
    ).otherwise(F.lit(0))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("_n").over(w), F.lit(0))
    assigned = df.select(group_col, F.col(id_col), n.alias("_n")).select(
        group_col,
        "_n",
        F.floor(start / ctx_tokens).cast("long").alias("seq_id"),
    )
    return assigned.groupBy(group_col, "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").cast("long").alias("n_tokens"),
    )


def pack_layout(
    df: DataFrame,
    ctx_tokens: int = 256,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-DOCUMENT packing layout — the provenance/attention-boundary
    manifest ``pack_documents`` (one row per window) deliberately does
    not materialize: for each doc under the same concat-and-chop
    convention, its global token offset in the group stream, the
    context window its first token lands in, its offset WITHIN that
    window, and how many of its tokens spill past the first window
    boundary (a training-data writer uses exactly this to emit
    attention-boundary masks and to answer "which sample did doc X
    land in" during data audits).

    Output: (id, group, n_tokens, start_tok, seq_id, offset_in_seq,
    n_spill, spills_over). All integer window arithmetic — exact in
    any engine; the sort is per-group, never global."""
    from pyspark.sql.window import Window

    # NULL-text guard (r13 advice, the c4_rules convention): without
    # it token_count(NULL) = F.size(NULL) = -1 silently shifts
    # start_tok/seq_id for every subsequent doc in the group
    n = F.when(
        F.col(text_col).isNotNull(), token_count(text_col)
    ).otherwise(F.lit(0))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(
        F.col(id_col), F.col(group_col), n.cast("long").alias("n_tokens")
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    off = start % ctx_tokens
    spill = F.greatest(
        F.lit(0).cast("long"),
        (off + F.col("n_tokens") - ctx_tokens).cast("long"),
    )
    return base.select(
        id_col,
        group_col,
        "n_tokens",
        start.cast("long").alias("start_tok"),
        F.floor(start / ctx_tokens).cast("long").alias("seq_id"),
        off.cast("long").alias("offset_in_seq"),
        spill.alias("n_spill"),
        (spill > 0).alias("spills_over"),
    )


def pack_layout_nosplit(
    df: DataFrame,
    ctx_tokens: int = 256,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DOCUMENT-RESPECTING (no-split) packing layout — the next-fit
    variant of ``pack_layout`` for training runs that mask cross-doc
    attention and never let a document straddle a context-window
    boundary (the "sample packing with boundary respect" convention):
    docs are placed in id order per group; a doc lands at the current
    window's fill offset iff it FITS (fill + n <= ctx), else it OPENS
    a new window at offset 0. A doc longer than the window gets a
    window alone with ``truncated`` = true (the writer truncates its
    tail); NULL-text docs count zero tokens (the r14 convention) and
    occupy no space. Deterministic: a pure fold over (group, id
    order) — replayable in any engine as a recursive CTE (the
    ``ema_macd_daily`` oracle precedent).

    Output: (id, group, n_tokens, seq_id, offset_in_seq, truncated).

    Scale shape: the token counts are JVM-side codegen; the fold is
    inherently sequential PER GROUP (next-fit bin state is not
    prefix-decomposable), so it runs as one Arrow ``applyInPandas``
    pass over the 3-column (id, group, n) frame — groups
    (sources/shards) are numerous and bounded, so parallelism is the
    group count and the shuffle moves 3 integers per doc, never
    text."""
    import pandas as pd

    ctx = int(ctx_tokens)
    n = F.when(
        F.col(text_col).isNotNull(), token_count(text_col)
    ).otherwise(F.lit(0))
    base = df.select(
        F.col(id_col), F.col(group_col), n.cast("long").alias("_n")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seqs, offs = [], []
        seq, fill, first = 0, 0, True
        for n_tok in pdf["_n"]:
            n_tok = int(n_tok)
            if first:
                seq, off, fill, first = 0, 0, n_tok, False
            elif fill + n_tok <= ctx:
                off = fill
                fill += n_tok
            else:
                seq += 1
                off = 0
                fill = n_tok
            seqs.append(seq)
            offs.append(off)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                group_col: pdf[group_col],
                "n_tokens": pdf["_n"],
                "seq_id": seqs,
                "offset_in_seq": offs,
                "truncated": pdf["_n"] > ctx,
            }
        )

    schema = (
        f"{id_col} long, {group_col} string, n_tokens long, "
        "seq_id long, offset_in_seq long, truncated boolean"
    )
    return base.groupBy(group_col).applyInPandas(fold, schema)


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    salt: str = "split:v1",
) -> DataFrame:
    """Bigram language-model quality scoring (the CCNet/KenLM perplexity
    filter re-expressed relationally): fit add-one-smoothed bigram
    probabilities P(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V) on the train split
    (``split_bucket``), then score EVERY doc with ≥2 tokens by
    avg_neg_logp = −(Σ ln P)/n — high means the corpus LM finds the doc
    surprising — plus known_bigram_ratio (fraction of the doc's bigrams seen
    in training).

    The "model" is two count relations (bigram counts; head-word totals
    derived from them) plus a scalar vocabulary size — Zipf-bounded, so at
    100 TB they are orders of magnitude smaller than the corpus and the
    scoring joins broadcast (AQE) or fall back to keyed shuffles on the
    bigram/head-word strings; scoring itself is one pass over the exploded
    bigram relation + one per-doc aggregation.

    Cross-engine determinism: each ln() term is rounded to 9 dp and summed
    in DECIMAL(38,10), so the per-doc sum is exact and the final 6 dp
    rounding cannot diverge (the 9-dp grid leaves ulp-level libm differences
    no boundary to flip, and decimal addition is order-free)."""
    cut = int(256 * train_pct / 100)
    bucket = split_bucket(id_col, salt)
    bg = shingles_long(df, text_col, id_col, k=2, distinct=False)
    train_bg = bg.filter(split_bucket(id_col, salt) < cut)
    c2 = train_bg.groupBy("shingle").agg(F.count(F.lit(1)).alias("c2"))
    w1c = c2.groupBy(
        F.split_part(F.col("shingle"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("c2").alias("c1"))
    vocab = (
        df.filter(bucket < cut)
        .select(F.explode(tokens(text_col)).alias("tok"))
        .agg(F.countDistinct("tok").alias("v_size"))
    )
    scored = (
        bg.withColumn("w1", F.split_part(F.col("shingle"), F.lit(" "), F.lit(1)))
        .join(c2, "shingle", "left")
        .join(w1c, "w1", "left")
        .crossJoin(F.broadcast(vocab))
    )
    logp = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v_size")).cast("double")
        ),
        9,
    )
    known = F.when(F.col("c2").isNotNull(), 1).otherwise(0)
    n = F.count(F.lit(1))
    return (
        scored.select(id_col, logp.alias("logp"), known.alias("known"))
        .groupBy(id_col)
        .agg(
            n.alias("n_bigrams"),
            F.round(F.sum("known").cast("double") / n, 6).alias(
                "known_bigram_ratio"
            ),
            F.round(
                (-F.sum(F.col("logp").cast("decimal(38,10)"))).cast("double") / n, 6
            ).alias("avg_neg_logp"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    score_col: str = "avg_neg_logp",
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3): within each language, order documents by LM score (lower =
    more fluent) and cut the ranking into thirds — "head" feeds
    high-quality training mixes, "middle" is kept, "tail" is usually
    dropped or down-sampled. Deterministic: ties break on the id, and
    the cut points are INTEGER ceilings (rank <= ceil(n/3) -> head,
    rank <= ceil(2n/3) -> middle), so any engine replays the exact
    bucket assignment.

    Output: (id, group, score, ppl_rank, n_group, bucket).

    Scale shape: one per-language sort window (languages are few and
    fixed; each partition is a keyed range sort, no global order). The
    certified form ranks exactly; at 100 TB replace the full-partition
    window with per-language ``approx_percentile`` thresholds computed
    on a sample and a broadcast threshold join — CCNet itself
    calibrates cutoffs on a sample for exactly this reason."""
    from pyspark.sql.window import Window

    # asc_nulls_last, NOT the Spark-default NULLS FIRST asc(): a
    # NULL-score doc must never rank into the "head" (best) bucket,
    # and ANSI/DuckDB ASC is NULLS LAST — this keeps the "any engine
    # replays the exact bucket assignment" contract on raw input
    # (r13 advice; the certified composition inner-joins NULLs away,
    # so its values are unchanged)
    w = Window.partitionBy(group_col).orderBy(
        F.asc_nulls_last(F.col(score_col)), F.col(id_col).asc()
    )
    cw = Window.partitionBy(group_col)
    rank = F.row_number().over(w)
    n = F.count(F.lit(1)).over(cw)
    head_cut = F.floor((n + 2) / 3)
    mid_cut = F.floor((2 * n + 2) / 3)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        rank.cast("int").alias("ppl_rank"),
        n.cast("long").alias("n_group"),
        F.when(rank <= head_cut, F.lit("head"))
        .when(rank <= mid_cut, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


_MULTI_PART_SUFFIXES = ("co.uk", "com.au", "co.jp", "com.br", "co.in")


def url_features(
    df: DataFrame,
    url_col: str = "url",
    blocklist: DataFrame | None = None,
    block_col: str = "domain",
) -> DataFrame:
    """URL/domain filtering features (the RefinedWeb/Dolma curation
    stage: drop documents by source before paying for any text work).
    Pure codegen Columns — anchored regexp host extraction (scheme ->
    authority, userinfo/port stripped), lowercased host, IP-literal
    detection, TLD, registered domain (last two labels, or three over
    a small multi-part-suffix list — a public-suffix-list stand-in,
    documented as such), and path depth (non-empty segments after the
    authority). ``blocklist`` (one ``block_col`` string column, the
    UT1-style feed) marks ``is_blocked`` via a BROADCAST left-semi
    shape (a left join + flag so the row survives for auditing);
    real blocklists are a few hundred thousand rows — broadcast at
    any corpus size. Rows whose URL does not parse get NULL host
    fields and is_blocked = false (route-don't-raise)."""
    u = F.col(url_col)
    auth = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1)
    )
    host_port = F.substring_index(auth, "@", -1)
    # IPv6 literals keep their brackets; strip :port only for others
    host = F.when(
        host_port.startswith("["),
        F.regexp_extract(host_port, r"^(\[[^\]]*\])", 1),
    ).otherwise(F.substring_index(host_port, ":", 1))
    parsed = (auth != "") & (host != "")
    host_n = F.when(parsed, host)
    is_ip = F.coalesce(
        host_n.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"),
        F.lit(False),
    )
    labels = F.split(host_n, r"\.")
    n_lab = F.size(labels)
    tld = F.when(parsed & ~is_ip & (n_lab >= 2),
                 F.element_at(labels, -1))
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.when(
        n_lab >= 3,
        F.concat_ws(".", F.element_at(labels, -3),
                    F.element_at(labels, -2), F.element_at(labels, -1)),
    )
    is_multi = last2.isin(*_MULTI_PART_SUFFIXES)
    reg_dom = F.when(is_ip, host_n).when(
        parsed & (n_lab >= 2),
        F.when(is_multi & last3.isNotNull(), last3).otherwise(last2),
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    depth = F.when(
        parsed,
        F.size(F.filter(F.split(path, "/"), lambda s: s != "")),
    )
    out = df.withColumns(
        {
            "host": host_n,
            "registered_domain": reg_dom,
            "tld": tld,
            "is_ip_host": is_ip,
            "path_depth": depth,
        }
    )
    if blocklist is None:
        return out.withColumn("is_blocked", F.lit(False))
    bl = F.broadcast(
        blocklist.select(
            F.lower(F.col(block_col)).alias("registered_domain")
        ).distinct().withColumn("_blk", F.lit(True))
    )
    return out.join(bl, "registered_domain", "left").withColumn(
        "is_blocked", F.coalesce(F.col("_blk"), F.lit(False))
    ).drop("_blk")


def wrap_warc(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Plant a spec-shaped WARC/1.0 response record per document (the
    ``compress_documents`` pattern for the crawl container): WARC
    headers (Type/Record-ID/Target-URI/Date/Content-Type/
    Content-Length) + CRLF blank line + an HTTP/1.1 200 response whose
    body is the document text. Content-Length is the OCTET length of
    the http block, computed in the plan — so the planted corpus is
    pure Column arithmetic an oracle replays. Output: (id, warc)."""
    crlf = F.lit("\r\n")
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n"
              "Content-Type: text/plain; charset=utf-8\r\n\r\n"),
        F.col(text_col),
    )
    warc = F.concat(
        F.lit("WARC/1.0\r\n"),
        F.lit("WARC-Type: response\r\n"),
        F.lit("WARC-Record-ID: <urn:uuid:"),
        F.col(id_col).cast("string"), F.lit(">"), crlf,
        F.lit("WARC-Target-URI: https://example.org/doc/"),
        F.col(id_col).cast("string"), crlf,
        F.lit("WARC-Date: 2024-01-01T00:00:00Z\r\n"),
        F.lit("Content-Type: application/http; msgtype=response\r\n"),
        F.lit("Content-Length: "),
        F.octet_length(http).cast("string"), crlf,
        crlf,
        http,
    )
    return df.select(id_col, warc.alias("warc"))


def parse_warc(
    df: DataFrame,
    warc_col: str = "warc",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Parse one WARC record per row into typed columns — the
    per-record stage of crawl ingestion (the record-level twin of the
    compressed-document router; a .warc.gz FILE first splits into
    records via ``split_warc_records``). Pure codegen Columns — header
    extraction is anchored regexp over the header block, the payload
    split is one find of the CRLF blank line — so the parse is a
    shuffle-free scan stage at any corpus size.

    Quarantine-as-data contract (the media-router rule): malformed
    records become ``error_class`` rows instead of killing the stage —
    unknown magic (not WARC/1.x) = NotImplementedError; a missing
    Content-Length or WARC-Record-ID header, or a payload whose octet
    length disagrees with the declared Content-Length (truncated or
    padded record) = ValueError. Non-response record types (warcinfo,
    request) parse fine with NULL http fields — type routing is the
    caller's business.

    Output: (id, *extra_cols, warc_type, record_id, target_uri,
    warc_date, content_length, http_status, body, n_body_bytes,
    error_class) — ``extra_cols`` pass through untouched (r13: the
    file-form walk keys records by (id, record_idx)).
    Char-based offsets equal byte offsets on single-byte text; binary
    WARC payloads belong on the binary-column path
    (``probe_media``-family), not this text parser."""
    w = F.col(warc_col)
    sep = "\r\n\r\n"
    hdr_end = F.instr(w, sep)  # 1-based start of the blank line; 0 = none
    hdr = F.substring(w, 1, hdr_end - 1)
    payload = w.substr(hdr_end + 4, F.octet_length(w))

    def _h(name: str) -> Column:
        return F.regexp_extract(hdr, f"(?m)^{name}: ([^\r\n]+)", 1)

    magic_ok = w.rlike(r"^WARC/1\.[01]\r\n")
    clen_s = _h("Content-Length")
    rec_id = _h("WARC-Record-ID")
    clen = F.when(clen_s != "", clen_s.cast("long"))
    payload_len = F.when(hdr_end > 0, F.octet_length(payload)).otherwise(
        F.lit(0)
    )
    err = (
        # NULL payload first: every later condition (rlike/instr on
        # NULL) evaluates to NULL, which would fall through the chain
        # and emit an all-NULL "good" row instead of quarantining
        # (r12 advice fix — quarantine-as-data means NULL routes too)
        F.when(w.isNull(), F.lit("ValueError"))
        .when(~magic_ok, F.lit("NotImplementedError"))
        .when(
            (hdr_end == 0) | (clen_s == "") | clen.isNull()
            | (rec_id == "") | (_h("WARC-Type") == ""),
            F.lit("ValueError"),
        )
        .when(payload_len != clen, F.lit("ValueError"))
    )
    is_http = _h("Content-Type").startswith("application/http")
    body_start = F.instr(payload, sep)
    status_s = F.regexp_extract(payload, r"^HTTP/1\.[01] (\d{3})", 1)
    http_ok = is_http & (body_start > 0) & (status_s != "")
    body = F.when(http_ok, payload.substr(
        body_start + 4, F.octet_length(payload)
    ))
    good = err.isNull()
    return df.select(
        id_col,
        *extra_cols,
        F.when(good, _h("WARC-Type")).alias("warc_type"),
        F.when(good, rec_id).alias("record_id"),
        F.when(good & (_h("WARC-Target-URI") != ""),
               _h("WARC-Target-URI")).alias("target_uri"),
        F.when(good & (_h("WARC-Date") != ""),
               _h("WARC-Date")).alias("warc_date"),
        F.when(good, clen).alias("content_length"),
        F.when(good & http_ok, status_s.cast("int")).alias("http_status"),
        F.when(good, body).alias("body"),
        F.when(good, F.coalesce(F.octet_length(body), F.lit(0)))
        .alias("n_body_bytes"),
        err.alias("error_class"),
    )


def split_warc_records(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split a WARC FILE payload (binary, possibly holding many
    records) into one row per record — the Content-Length-driven walk
    the WARC spec prescribes (records are length-framed; scanning for
    'WARC/' would misfire on bodies that contain it). Iterative by
    nature, so this is an Arrow ``mapInPandas`` stage (the
    compressed-ingest router precedent); gzip members are inflated
    first when the payload carries the gzip magic (the .warc.gz form —
    each record its own member or one stream, both walk the same).
    Truncated trailing records quarantine as a final error row rather
    than killing the task. Output: (id, record_idx, warc string,
    error_class)."""
    import gzip as _gzip
    from typing import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                did = None if pd.isna(did) else int(did)
                if payload is None:
                    out.append((did, None, None, "ValueError"))
                    continue
                raw = bytes(payload)
                if raw[:2] == b"\x1f\x8b":
                    try:
                        raw = _gzip.decompress(raw)
                    except Exception:
                        out.append((did, None, None, "ValueError"))
                        continue
                pos, idx = 0, 0
                while pos < len(raw):
                    if raw[pos:pos + 5] != b"WARC/":
                        out.append((did, idx, None,
                                    "NotImplementedError"))
                        break
                    hdr_end = raw.find(b"\r\n\r\n", pos)
                    if hdr_end < 0:
                        out.append((did, idx, None, "ValueError"))
                        break
                    hdr = raw[pos:hdr_end]
                    m = [ln for ln in hdr.split(b"\r\n")
                         if ln.lower().startswith(b"content-length:")]
                    if not m:
                        out.append((did, idx, None, "ValueError"))
                        break
                    try:
                        clen = int(m[0].split(b":", 1)[1].strip())
                    except ValueError:
                        out.append((did, idx, None, "ValueError"))
                        break
                    end = hdr_end + 4 + clen
                    if end > len(raw):
                        out.append((did, idx, None, "ValueError"))
                        break
                    rec = raw[pos:end]
                    out.append(
                        (did, idx, rec.decode("utf-8", "replace"), None)
                    )
                    idx += 1
                    pos = end
                    # records are followed by two CRLFs per spec
                    while raw[pos:pos + 2] == b"\r\n":
                        pos += 2
            yield pd.DataFrame(
                out,
                columns=[id_col, "record_idx", "warc", "error_class"],
            )

    return df.select(id_col, payload_col).mapInPandas(
        run,
        f"{id_col} long, record_idx int, warc string, error_class string",
    )


def dsir_weights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    top_frac: float = 0.25,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — as dataflow): weight
    every RAW document by how target-like its hashed n-gram profile
    is, then keep the top fraction. The feature map is the paper's:
    unigrams + bigrams hashed into ``n_buckets`` buckets; two
    bag-of-buckets models fit by counting (p on the ``target_col``
    split, q on the rest, add-one smoothing); a document's importance
    weight is log w = Σ_g [ln p(bucket(g)) − ln q(bucket(g))] over its
    gram INSTANCES. Deterministic selection: the paper samples with
    Gumbel noise; the certified form here takes the exact top
    ``top_frac`` of the raw pool by weight (ties broken by id) — the
    standard deterministic variant, and the one an oracle can replay.

    Output: (id, is_target, n_grams, log_w, selected) — target docs are
    scored too (useful for calibration) but never selected.

    Scale shape: the models are TWO B-row count relations (B = 4096
    here — bounded, broadcast) built by one map-side-combined agg over
    the exploded gram relation; scoring is the same explode joined to
    the broadcast counts and re-aggregated per doc — one id exchange.
    The bucket hash is the md5 fold shared with ``hash_embed``, so an
    ANSI engine replays it bit-for-bit. Cross-engine float discipline
    (the ``bigram_lm_scores`` rule): each ln() is 9-dp-rounded, the
    per-doc sum runs in DECIMAL(38,10) (exact, order-free), ranking
    compares the EXACT decimals, and only the output rounds to 6 dp.
    The global top-k rank here is a single-partition sort over one row
    per doc — fine for certification; at 100 TB use the same weights
    with a TakeOrdered top-k or an approx-quantile threshold."""
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col),
        F.col(target_col).alias("is_target"),
        tokens(text_col).alias("t"),
    )
    uni = base.select(id_col, "is_target", F.explode("t").alias("g"))
    bi = base.filter(F.size("t") >= 2).select(
        id_col,
        "is_target",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i+1]))"
            )
        ).alias("g"),
    )
    x = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
    gb = uni.unionByName(bi).select(
        id_col, "is_target", (x % n_buckets).alias("b")
    )
    cp = gb.filter(F.col("is_target")).groupBy("b").agg(
        F.count(F.lit(1)).alias("cp")
    )
    cq = gb.filter(~F.col("is_target")).groupBy("b").agg(
        F.count(F.lit(1)).alias("cq")
    )
    tot = gb.agg(
        F.sum(F.col("is_target").cast("long")).alias("tp"),
        F.sum((~F.col("is_target")).cast("long")).alias("tq"),
    )
    lam = F.round(
        F.log(
            (F.coalesce(F.col("cp"), F.lit(0)) + 1).cast("double")
            / (F.col("tp") + n_buckets).cast("double")
        ),
        9,
    ).cast("decimal(38,10)") - F.round(
        F.log(
            (F.coalesce(F.col("cq"), F.lit(0)) + 1).cast("double")
            / (F.col("tq") + n_buckets).cast("double")
        ),
        9,
    ).cast("decimal(38,10)")
    scored = (
        gb.join(F.broadcast(cp), "b", "left")
        .join(F.broadcast(cq), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(id_col, "is_target", lam.alias("lam"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.first("is_target").alias("is_target"),
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("lam").alias("wd"),
    )
    n_raw = per_doc.filter(~F.col("is_target")).agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    rk = F.when(
        ~F.col("is_target"),
        F.row_number().over(
            Window.partitionBy("is_target").orderBy(
                F.col("wd").desc(), F.col(id_col)
            )
        ),
    )
    return (
        per_doc.withColumn("r", rk)
        .crossJoin(F.broadcast(n_raw))
        .select(
            id_col,
            "is_target",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.round(F.col("wd").cast("double"), 6).alias("log_w"),
            F.coalesce(
                F.col("r")
                <= F.ceil(F.lit(top_frac) * F.col("n_raw")).cast("long"),
                F.lit(False),
            ).alias("selected"),
        )
    )


def _dsir_gram_buckets(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Shared DSIR feature map: one row per unigram/bigram INSTANCE,
    bucketed by the md5 fold (the ``hash_embed`` portable hash).
    Exactly the gram/bucket arithmetic ``dsir_weights`` inlines, so
    fit-then-score reproduces its weights bit-for-bit."""
    base = df.select(
        F.col(id_col), *extra, tokens(text_col).alias("t")
    )
    uni = base.select(id_col, *extra, F.explode("t").alias("g"))
    bi = base.filter(F.size("t") >= 2).select(
        id_col,
        *extra,
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i+1]))"
            )
        ).alias("g"),
    )
    x = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
    return uni.unionByName(bi).select(
        id_col, *extra, (x % n_buckets).alias("b")
    )


def dsir_fit(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Fit the DSIR model ONCE and return it as a relation — the
    production split of ``dsir_weights`` (fit on a reference sample,
    persist, score every future batch online): rows (b, lam) for each
    bucket observed on either side, plus one b = -1 row carrying the
    unseen-bucket default. lam is the identical decimal arithmetic
    ``dsir_weights`` inlines (9-dp-rounded ln terms subtracted in
    DECIMAL(38,10)), so fit-then-score is bit-equal to the one-shot
    operator. The whole model is <= n_buckets + 1 rows — parquet it
    and broadcast it forever."""
    gb = _dsir_gram_buckets(
        df.select(F.col(id_col), F.col(target_col).alias("is_target"),
                  F.col(text_col)),
        text_col, id_col, n_buckets, extra=("is_target",),
    )
    cp = gb.filter(F.col("is_target")).groupBy("b").agg(
        F.count(F.lit(1)).alias("cp")
    )
    cq = gb.filter(~F.col("is_target")).groupBy("b").agg(
        F.count(F.lit(1)).alias("cq")
    )
    tot = gb.agg(
        F.sum(F.col("is_target").cast("long")).alias("tp"),
        F.sum((~F.col("is_target")).cast("long")).alias("tq"),
    )

    def _lam(cp_col: Column, cq_col: Column) -> Column:
        return F.round(
            F.log(
                (cp_col + 1).cast("double")
                / (F.col("tp") + n_buckets).cast("double")
            ),
            9,
        ).cast("decimal(38,10)") - F.round(
            F.log(
                (cq_col + 1).cast("double")
                / (F.col("tq") + n_buckets).cast("double")
            ),
            9,
        ).cast("decimal(38,10)")

    seen = (
        cp.join(cq, "b", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            _lam(
                F.coalesce(F.col("cp"), F.lit(0)),
                F.coalesce(F.col("cq"), F.lit(0)),
            ).alias("lam"),
        )
    )
    default = tot.select(
        F.lit(-1).cast("long").alias("b"),
        _lam(F.lit(0), F.lit(0)).alias("lam"),
    )
    return seen.unionByName(default)


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Score documents against a fitted DSIR model (``dsir_fit``):
    grams -> buckets -> broadcast lam join (unseen buckets take the
    b = -1 default) -> exact decimal per-doc sum. Output (id, n_grams,
    log_w). Docs with NO grams (NULL/empty text) emit no row — route
    them explicitly (the gate writer does)."""
    gb = _dsir_gram_buckets(df, text_col, id_col, n_buckets)
    lam_rel = F.broadcast(model.filter(F.col("b") >= 0))
    lam_def = F.broadcast(
        model.filter(F.col("b") == -1).select(
            F.col("lam").alias("lam_default")
        )
    )
    return (
        gb.join(lam_rel, "b", "left")
        .crossJoin(lam_def)
        .select(
            id_col,
            F.coalesce(F.col("lam"), F.col("lam_default")).alias("lam"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(F.sum("lam").cast("double"), 6).alias("log_w"),
        )
    )


def seeded_classifier_weights(
    spark,
    n_buckets: int = 4096,
    salt: str = "qcls:v1",
    w_range: int = 8,
) -> DataFrame:
    """Deterministic stand-in for a PRETRAINED quality-classifier weight
    table (the ``jl_sign_matrix`` salt scheme, relation-shaped): bucket
    b gets the integer weight fold(md5(salt:b)) % (2*w_range+1) -
    w_range in [-w_range, w_range]. In production the table comes from
    an offline fastText/logistic fit on labeled pages; the engine only
    ever sees (bucket, weight) rows, and this generator exists so the
    APPLY path is certifiable without shipping a binary model. Built
    with ``spark.range`` — no driver-side loop."""
    b = F.col("id").cast("long")
    h = F.md5(F.concat(F.lit(f"{salt}:"), b.cast("string")))
    fold = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    return spark.range(n_buckets).select(
        b.alias("b"),
        (fold % (2 * w_range + 1) - w_range).cast("long").alias("w"),
    )


def classifier_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Hashed linear quality-classifier scoring (the GPT-3/CCNet
    discriminative gate, Brown et al. 2020 Appendix A; fastText-style
    mean-pooled bag of hashed features) — the APPLY half of the
    classifier quality filter, complementing ``dsir_weights`` (the
    generative importance weight): a model trained OFFLINE on labeled
    pages ships as a (bucket, weight) relation; every document's
    unigram+bigram instances hash into ``n_buckets`` buckets (the
    ``hash_embed`` md5 fold DSIR shares), each gram looks up its
    weight, and the document scores margin = Σ w (exact integer for
    integer models) with the fastText mean pool score = margin /
    n_grams. pred_keep = margin > 0; corpora that want a different
    operating point threshold on ``score``.

    Docs with NULL/empty text route to (n_grams=0, margin/score NULL,
    pred_keep=false) — never dropped (the quarantine-as-data rule).

    Cross-engine exactness: with integer weights the margin is exact,
    and n_grams = 2T-1 is always ODD (T unigrams + T-1 bigrams), so
    round(margin/n_grams, 6) can never land on a half-ulp tie (a tie
    needs the denominator to contribute a factor 2^7 beyond 2·10^6).

    Scale shape: the model is a B-row BROADCAST (B = 4096 — smaller
    than one parquet footer); scoring is explode -> broadcast lookup ->
    one map-side-combined agg on the document id. One id exchange per
    100 TB pass, no model state on executors between batches."""
    grams = _dsir_gram_buckets(df, text_col, id_col, n_buckets)
    per_doc = (
        grams.join(F.broadcast(weights), "b", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("w").alias("margin"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("long")
            .alias("n_grams"),
            F.col("margin").cast("long").alias("margin"),
            F.round(
                F.col("margin").cast("double") / F.col("n_grams"), 6
            ).alias("score"),
            F.coalesce(F.col("margin") > 0, F.lit(False)).alias(
                "pred_keep"
            ),
        )
    )


def with_fingerprint(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Document fingerprints: full-text md5 + a content-defined fingerprint
    (lexicographic min/max md5 over k-shingles — a 2-permutation minhash),
    robust to reordering-free edits at the margins."""
    sh = shingles(text_col, k)
    hashed = F.transform(sh, lambda s: F.md5(s))
    return df.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("text_md5"),
        F.array_min(hashed).alias("shingle_min_md5"),
        F.array_max(hashed).alias("shingle_max_md5"),
    )


# --- PII scrubbing -----------------------------------------------------------
# Patterns are restricted to the RE2 ∩ java.util.regex common subset (no
# lookaround, no backreferences) so the IDENTICAL strings run in Spark's
# codegen'd regexp_replace/regexp_count and in an RE2 engine (DuckDB oracle).
# Scrub order is the tuple order and the three patterns are mutually
# non-overlapping (3-2-4 digit groups ≠ 3-3-4; emails carry no dashes-digit
# runs), so sequential replacement is order-independent here — the fixed
# order only matters if overlapping patterns are ever added.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
)


def scrub_pii(col: Column | str) -> Column:
    """Text with every PII_PATTERNS match replaced by its typed redaction
    token. Pure per-row JVM expression chain — shuffle-free, codegen'd,
    scan-parallel at any scale."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def with_pii_scrubbed(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII audit + scrub: match counts per PII kind (counted on the
    original text), the scrubbed text, and ``residual_digits`` — digits
    remaining after the scrub, the invariant a curation gate would alert on
    (0 when the pattern set covers the corpus's PII forms)."""
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{kind}") for kind, pat, _ in PII_PATTERNS
    ]
    scrubbed = scrub_pii(c)
    return df.select(
        "doc_id",
        *counts,
        scrubbed.alias("scrubbed_text"),
        F.regexp_count(scrubbed, F.lit(r"\d")).alias("residual_digits"),
    )


def hash_embed(df: DataFrame, text_col: str = "text", dims: int = 16) -> DataFrame:
    """Deterministic feature-hash document embedding (the 'hashing trick'):
    each token hashes to one of ``dims`` buckets with a ±1 sign (dim = low 4
    bits of the 60-bit md5 fold, sign = bit 4), per-doc bucket sums are
    L2-normalized into columns ``d0..d{dims-1}``.

    This is the cheapest text→vector bridge that needs no model on the
    cluster: every expression is a flat codegen'd Column (explode → integer
    ops → dims conditional sums in ONE groupBy — same single-exchange shape
    as minhash), the output is a unit vector usable by every operator in
    operators/similarity.py, and — because the hash is md5 — an ANSI-SQL
    engine reproduces it bit-for-bit (pre-normalization sums are exact
    integers, so the 6 dp rounding after division cannot diverge).
    Bit-layout constraint: dims must be a power of two ≤ 2^29 (dim and sign
    read disjoint low bits of the fold)."""
    assert dims & (dims - 1) == 0, "dims must be a power of two"
    toks = df.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    x = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    dim = (x % dims).cast("int")
    sign = F.when(x % (2 * dims) < dims, F.lit(1)).otherwise(F.lit(-1))
    d = toks.select("doc_id", dim.alias("dim"), sign.alias("sign"))
    sums = [
        F.sum(F.when(F.col("dim") == i, F.col("sign")).otherwise(0)).alias(f"e{i}")
        for i in range(dims)
    ]
    e = d.groupBy("doc_id").agg(*sums)
    norm = F.sqrt(sum(F.col(f"e{i}") * F.col(f"e{i}") for i in range(dims)))
    return e.select(
        "doc_id",
        *[
            F.when(norm > 0, F.round(F.col(f"e{i}") / norm, 6))
            .otherwise(F.lit(0.0))
            .alias(f"d{i}")
            for i in range(dims)
        ],
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
) -> DataFrame:
    """LINE-LEVEL boilerplate removal — the C4/CCNet corpus-frequency
    trick: a line appearing verbatim in >= ``min_docs`` DISTINCT
    documents is boilerplate (cookie banners, copyright footers,
    navigation chrome) and is dropped from every document; document-
    unique lines survive in order. Returns (id, clean_text, n_lines,
    n_removed).

    Scale shape: the line-frequency aggregation is map-side combined on
    ``md5(line)`` — the exchange carries 16-byte digests, never line
    text — and the frequent set after the HAVING cut is TINY by
    definition (boilerplate = high doc-frequency), so the corpus-side
    filter is a BROADCAST anti-join: no shuffle of the exploded corpus
    on line keys. Reassembly is one exchange on the document id
    (sort_array over collected (line_no, line) structs — no window).
    At 100 TB this is exactly the CCNet paragraph-dedup plan with
    digests instead of text on the wire."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "line_no", "line"
        ),
    ).withColumn("line_key", F.md5(F.col("line")))
    frequent = (
        lines.groupBy("line_key")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_key")
    )
    kept = lines.join(F.broadcast(frequent), "line_key", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_no", "line"))
                    ),
                    lambda x: x["line"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(
            df.select(
                F.col(id_col),
                F.size(F.split(F.col(text_col), "\n", -1)).alias("n_lines"),
            ),
            id_col,
        )
        .select(
            id_col,
            "clean_text",
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.col("n_kept")).cast("long").alias(
                "n_removed"
            ),
        )
    )


def gram_hashes(
    df: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, h) — one row per w-token window start, h = xxhash64 of
    the space-joined window text. The codegen'd posexplode + lead form
    (``shingles_long``'s plan with positions kept): ONE exchange on the
    document id for the per-doc sort, which downstream per-doc
    consumers (the span merge) reuse. Shared by the batch
    ``duplicate_spans`` and the streaming exact-substring writer."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    lead_cols = [F.col("tok").alias("_t0")] + [
        F.lead("tok", j).over(win).alias(f"_t{j}") for j in range(1, w)
    ]
    return (
        toks.select(id_col, "pos", *lead_cols)
        .filter(F.col(f"_t{w - 1}").isNotNull())
        .select(
            id_col,
            "pos",
            F.xxhash64(
                F.concat_ws(" ", *[F.col(f"_t{j}") for j in range(w)])
            ).alias("h"),
        )
    )


def merge_spans(
    starts: DataFrame, w: int, id_col: str = "doc_id"
) -> DataFrame:
    """Merge marked w-token window starts (id, pos) into maximal spans
    per document — gaps-and-islands over the sorted starts: a new
    island begins when the gap between consecutive starts exceeds w
    (equal-width intervals overlap or abut iff the gap is <= w).
    Returns (id, span_id, start_tok, end_tok, n_tokens); the windows
    reuse whatever id partitioning the caller's plan established."""
    from pyspark.sql.window import Window

    win = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(win) > w, F.lit(1)
    ).otherwise(F.lit(0))
    islands = starts.select(
        F.col(id_col),
        "pos",
        F.sum(brk).over(
            win.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("island"),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(w - 1)).alias("end_tok"),
            (F.max("pos") + F.lit(w) - F.min("pos")).alias("n_tokens"),
        )
        .select(
            id_col,
            (F.col("island") + 1).cast("int").alias("span_id"),
            F.col("start_tok").cast("int"),
            F.col("end_tok").cast("int"),
            F.col("n_tokens").cast("int"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    w: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_frequent: bool = False,
) -> DataFrame:
    """EXACT-SUBSTRING duplicate-span detection — the suffix-array dedup
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") re-expressed as dataflow: any ``w``-token window
    whose verbatim text occurs >= ``min_count`` times ANYWHERE in the
    corpus (other documents AND within-document repeats both count, as
    in the paper) marks its token range duplicated; overlapping and
    abutting ranges are merged per document into maximal spans. A
    suffix array is a shared-memory construction that does not
    distribute; fixed-width rolling windows with stride 1 give the same
    "every duplicated run of >= w tokens is found, with span boundaries
    resolved to +-(w-1) tokens" guarantee as the paper's min-length
    cut, and every step is a relational primitive.

    Returns one row per MERGED span: (id, span_id, start_tok, end_tok,
    n_tokens) with 0-based inclusive token offsets, span_id numbering
    spans 1..n per document in token order.

    Scale shape (100 TB): the window relation is built by the codegen'd
    posexplode + lead form (``shingles_long``'s plan, positions kept) —
    ONE exchange on the document id for the lead window's per-doc sort.
    The occurrence count exchanges 8-byte xxhash64 digests with
    map-side partial counts, never window text (the boilerplate-removal
    wire rule; a 64-bit collision is the documented epsilon, and the
    collision would have to fall inside one corpus to matter). The
    marked-start join is keyed on the digest — pass
    ``broadcast_frequent=True`` when the frequent set is known small
    (planted/boilerplate-heavy corpora); left at False, AQE picks
    broadcast vs shuffle from the measured build size. The island merge
    (gaps-and-islands: break when the gap between sorted starts exceeds
    w) and the span aggregation both reuse the id partitioning the lead
    window already established — no further exchange."""
    grams = gram_hashes(df, w=w, text_col=text_col, id_col=id_col)
    frequent = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    if broadcast_frequent:
        frequent = F.broadcast(frequent)
    starts = grams.join(frequent, "h").select(id_col, "pos")
    return merge_spans(starts, w, id_col=id_col)


def remove_duplicate_spans(
    df: DataFrame,
    w: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_frequent: bool = False,
) -> DataFrame:
    """The removal twin of ``duplicate_spans``: drop every token covered
    by a duplicated window and reassemble the survivors in order.
    Returns (id, clean_text, n_tokens, n_removed) — one row per
    document, including documents with nothing to remove.

    The covered-position set is derived from the marked STARTS (each
    start covers [pos, pos+w-1]; explode + distinct), so the
    subtraction is an equi anti-join on (id, position) — codegen'd
    hash join, never a range predicate that would force a nested-loop
    plan. Reassembly reuses the boilerplate-removal tail (sort_array
    over collected structs, one id exchange)."""
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    spans = duplicate_spans(
        df,
        w=w,
        min_count=min_count,
        text_col=text_col,
        id_col=id_col,
        broadcast_frequent=broadcast_frequent,
    )
    covered = spans.select(
        F.col(id_col),
        F.explode(F.sequence("start_tok", "end_tok")).alias("pos"),
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(
            df.select(
                F.col(id_col),
                # NULL text carries no tokens (a poisoned row must not
                # propagate NULL accounting into the corpus stats)
                F.coalesce(
                    token_count(text_col), F.lit(0)
                ).alias("n_tokens"),
            ),
            id_col,
            "right",
        )
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))
            ).cast("long").alias("n_removed"),
        )
    )


def compress_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    codec: str = "gzip",
    codec_col: str | None = None,
) -> DataFrame:
    """Compress document text into binary payloads — the planting half
    of the compressed-ingest pair (real training corpora arrive as
    .gz/.warc.gz, .bz2 wiki dumps, or .xz members, not plain text).
    ``codec`` in {'gzip','bz2','xz'} — all stdlib, all deterministic
    byte output (gzip: fixed level + mtime=0; bz2: fixed compresslevel;
    xz: fixed default preset), so any oracle built on the bytes is
    byte-stable. Pass ``codec_col`` to choose the codec PER ROW from a
    string column (a mixed feed — the real shape of a crawl bucket
    where .warc.gz, .bz2 dumps, and .xz members land side by side);
    the fixed ``codec`` is then only the fallback for NULL entries.
    Arrow mapInPandas, payloads produced where the rows live."""
    import bz2
    import gzip
    import io as _io
    import lzma
    from typing import Iterator

    import pandas as pd

    if codec not in ("gzip", "bz2", "xz"):
        raise ValueError(f"unknown codec {codec!r}")

    def _one(data: bytes, c: str) -> bytes:
        if c == "bz2":
            return bz2.compress(data, compresslevel=level)
        if c == "xz":
            return lzma.compress(data)
        if c != "gzip":
            raise ValueError(f"unknown codec {c!r}")
        buf = _io.BytesIO()
        with gzip.GzipFile(
            fileobj=buf, mode="wb", compresslevel=level, mtime=0
        ) as gz:
            gz.write(data)
        return buf.getvalue()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codecs = (
                [codec if pd.isna(c) else str(c) for c in pdf[codec_col]]
                if codec_col is not None
                else [codec] * len(pdf)
            )
            payloads = [
                _one(("" if t is None else str(t)).encode("utf-8"), c)
                for t, c in zip(pdf[text_col], codecs)
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "payload": payloads}
            )

    cols = [id_col, text_col] + ([codec_col] if codec_col else [])
    return df.select(*cols).mapInPandas(
        run, f"{id_col} long, payload binary"
    )


def decompress_documents_routed(
    media: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quarantine-routed compressed ingest (r9; multi-codec r10):
    inflate binary document payloads back to text under the engine's
    two-exception contract — truncated/corrupt members and NULL
    payloads become ``error_class`` rows instead of killing a 100 TB
    decompression stage (the same router shape as
    ``multimodal.decode_media_routed``). The container is detected by
    magic — gzip (\\x1f\\x8b), bz2 (BZh), xz (\\xfd7zXZ\\x00) — and
    anything else routes NotImplementedError to a codec-equipped pool.
    Good rows carry the decoded text and its byte/char lengths; every
    stdlib reader verifies its integrity trailer (gzip CRC+ISIZE, bz2
    block CRCs, xz check field), so silent corruption cannot pass as
    healthy text. Shuffle-free Arrow mapInPandas."""
    import bz2
    import gzip
    import lzma
    from typing import Iterator
    from zlib import error as zlib_error

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                row = {
                    id_col: None if pd.isna(did) else int(did),
                    "text": None, "n_bytes": None, "n_chars": None,
                    "error_class": None,
                }
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    raw = bytes(payload)
                    if raw[:2] == b"\x1f\x8b":
                        codec, inflate = "gzip", gzip.decompress
                    elif raw[:3] == b"BZh":
                        codec, inflate = "bz2", bz2.decompress
                    elif raw[:6] == b"\xfd7zXZ\x00":
                        codec, inflate = "xz", lzma.decompress
                    else:
                        raise NotImplementedError(
                            "unknown compression container"
                        )
                    try:
                        data = inflate(raw)
                    except (
                        EOFError, OSError, zlib_error, lzma.LZMAError,
                        ValueError,
                    ) as e:
                        raise ValueError(
                            f"corrupt {codec} member: {e}"
                        ) from e
                    # UnicodeDecodeError is a ValueError subclass, so
                    # non-UTF-8 plaintext routes to quarantine too
                    text = data.decode("utf-8", errors="strict")
                    row.update(
                        text=text, n_bytes=len(data), n_chars=len(text)
                    )
                except ValueError:
                    row["error_class"] = "ValueError"
                except NotImplementedError:
                    row["error_class"] = "NotImplementedError"
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select(id_col, "payload").mapInPandas(
        run,
        f"{id_col} long, text string, n_bytes long, n_chars long, "
        "error_class string",
    )
