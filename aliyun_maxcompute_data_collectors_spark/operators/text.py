"""Text analysis operators for training-data pipelines.

Beyond the reference's surface (SURVEY.md build plan, phase 5): language ID,
quality scoring, token counting, and document fingerprinting over a
``documents(doc_id, text, lang, source, n_chars)`` table.

Everything here is built-in ``pyspark.sql.functions`` - JVM-side, whole-stage
codegen, no Python in the hot path - so the operators scale to 100 TB of text
with no UDF serialization cost.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# tokenization / counting
# ---------------------------------------------------------------------------

WS = r"\s+"
# BPE-ish word/number/punct pieces (approximates subword pre-tokenization)
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bind(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.
    Spark evaluates a higher-order function's lambda body per element and
    shares no subexpression into it, so a per-document column referenced
    inside one (the split words of a text, say) is rebuilt for every
    element: O(n^2) per document.  A one-element ``transform`` binds it to
    a lambda variable instead."""
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), WS)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Regex piece count approximating BPE pre-tokenization (letters runs,
    single digits, single punctuation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH), F.lit(0)))


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_PUNCT_CLASS = r"[^\.,!\?;:]"
# fixed small stopword list - deterministic, language-marker doubling below
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def punct_ratio(col: Column | str) -> Column:
    """punctuation chars / total chars (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """stopword tokens / total tokens."""
    c = F.col(col) if isinstance(col, str) else col
    sw = stopwords or STOPWORDS
    pattern = r"\b(" + "|".join(sw) + r")\b"
    hits = F.regexp_count(F.lower(c), F.lit(pattern))
    total = token_count(c)
    return F.when(total > 0, hits.cast("double") / total).otherwise(F.lit(0.0))


def mean_word_length(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    total = token_count(c)
    nonspace = F.length(F.regexp_replace(c, WS, ""))
    return F.when(total > 0, nonspace.cast("double") / total).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot x stopword
    presence x non-degenerate word length.  Deterministic closed form so an
    SQL oracle can mirror it exactly."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_ratio(c)
    sw_ok = F.when((sw > 0.0) & (sw < 0.7), F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = mean_word_length(c)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + sw_ok + mwl_ok) / 3.0, 4)


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def _norm_tokens(col: Column | str) -> Column:
    return F.split(normalized(col), " ")


def dup_token_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    (n - n_distinct) / n.  High values mark degenerate, loop-generated, or
    boilerplate text (the Gopher rules cut at ~0.3-0.6 depending on unit)."""
    toks = _norm_tokens(col)
    n = F.size(toks)
    return F.when(
        n > 0, F.round((n - F.size(F.array_distinct(toks))).cast("double") / n, 4)
    ).otherwise(F.lit(0.0))


def dup_bigram_ratio(col: Column | str) -> Column:
    """Same ratio over adjacent-token bigrams - catches phrase-level loops
    that unigram dedup misses."""
    def ratio(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        )
        ng = F.size(grams)
        return F.when(
            n > 1, F.round((ng - F.size(F.array_distinct(grams))).cast("double") / ng, 4)
        ).otherwise(F.lit(0.0))

    return bind(_norm_tokens(col), ratio)


def top_token_ratio(col: Column | str) -> Column:
    """Frequency share of the single most common token.  O(n x n_distinct)
    interpreted array work per document - fine for documents (n ~ 10^2-10^4);
    for book-length inputs chunk first (corpus.chunk_documents)."""
    def ratio(toks: Column) -> Column:
        n = F.size(toks)
        top = F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        )
        return F.when(n > 0, F.round(top.cast("double") / n, 4)).otherwise(F.lit(0.0))

    return bind(_norm_tokens(col), ratio)


def repetition_ok(
    col: Column | str,
    max_dup_token: float = 0.4,
    max_dup_bigram: float = 0.2,
    max_top_token: float = 0.2,
) -> Column:
    """1 when every repetition signal is under its cut (Gopher-style gate)."""
    return (
        F.when(
            (dup_token_ratio(col) <= max_dup_token)
            & (dup_bigram_ratio(col) <= max_dup_bigram)
            & (top_token_ratio(col) <= max_top_token),
            1,
        ).otherwise(0)
    ).cast("int")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (label, pattern) - RE2-safe (no lookaround) so DuckDB mirrors them exactly
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("PHONE", r"\+[0-9][0-9 \-]{7,}[0-9]"),
    ("NUMID", r"[0-9]{9,}"),
]


def pii_count(col: Column | str, label: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pattern = dict(PII_PATTERNS)[label]
    return F.regexp_count(c, F.lit(pattern))


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its [LABEL] marker.  Patterns apply in
    list order (EMAIL before NUMID, so an email's digits never half-match);
    pure regexp_replace - JVM codegen, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    for label, pattern in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, f"[{label}]")
    return c


# ---------------------------------------------------------------------------
# language identification (n-gram / marker-word heuristic)
# ---------------------------------------------------------------------------

# marker words per language; scoring = count of marker hits, argmax with
# deterministic preference order en > de > fr > es on ties
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "dans"],
    "es": ["el", "los", "las", "es", "y", "en"],
}
LANG_ORDER = ["en", "de", "fr", "es"]


def lang_scores(col: Column | str) -> dict[str, Column]:
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    out = {}
    for lang, words in LANG_MARKERS.items():
        pattern = r"\b(" + "|".join(words) + r")\b"
        out[lang] = F.regexp_count(c, F.lit(pattern))
    return out


def lang_id(col: Column | str, default: str = "und") -> Column:
    """Predicted language = argmax marker score (ties broken by LANG_ORDER);
    'und' when no marker hits at all."""
    scores = lang_scores(col)
    best = None
    for lang in reversed(LANG_ORDER):  # build nested CASE; earlier langs win ties
        cond = None
        s = scores[lang]
        for other in LANG_ORDER:
            if other == lang:
                continue
            prior = other in LANG_ORDER[:LANG_ORDER.index(lang)]
            # strictly greater than later langs; >= earlier langs never true on tie
            cmp = (s > scores[other]) if prior else (s >= scores[other])
            cond = cmp if cond is None else (cond & cmp)
        this = F.when((s > 0) & cond, F.lit(lang))
        best = this.otherwise(best) if best is not None else this.otherwise(F.lit(default))
    return best


def lang_id_sql(text_expr: str = "text", default: str = "und") -> str:
    """The exact same decision function as ``lang_id``, rendered as ANSI SQL
    (for DuckDB oracles) - generated from the same constants so the two can
    never drift."""
    def score(lang):
        pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
        return f"len(regexp_extract_all(lower({text_expr}), '{pat}'))"

    cases = []
    for lang in LANG_ORDER:
        conds = [f"{score(lang)} > 0"]
        for other in LANG_ORDER:
            if other == lang:
                continue
            prior = other in LANG_ORDER[:LANG_ORDER.index(lang)]
            op = ">" if prior else ">="
            conds.append(f"{score(lang)} {op} {score(other)}")
        cases.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{default}' END"


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

def normalized(col: Column | str) -> Column:
    """Canonical text: lowercase, whitespace collapsed to single spaces,
    trimmed - the usual exact-dedup normalization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WS, " "))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint = md5(normalized text).  md5 is identical across
    engines, making this oracle-checkable; for pure-Spark use xxhash64 is
    cheaper at scale."""
    return F.md5(normalized(col))


# polynomial rolling-hash constants: a*B+h stays under 2^63 because
# a < M (2^31-1), B ~2^30, h < 2^32 — ANSI-overflow-safe in both engines
ROLL_B = 1103515245
ROLL_M = 2147483647


def _token_hashes(col: Column | str) -> Column:
    """array<long> of per-token md5 ints over normalized text."""
    toks = F.split(normalized(col), " ")
    return F.transform(
        toks, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )


def rolling_fingerprint(col: Column | str) -> Column:
    """ORDER-SENSITIVE document fingerprint: polynomial rolling hash
    h = (h*B + md5int(token)) mod M over the token stream.  Set-based
    fingerprints (md5-of-normalized, minhash) miss reorderings; this one
    distinguishes them.  Pure built-in expressions; DuckDB mirrors it with
    list_reduce, so it is oracle-checkable."""
    return F.aggregate(
        _token_hashes(col),
        F.lit(0).cast("long"),
        lambda a, h: (a * F.lit(ROLL_B) + h) % F.lit(ROLL_M),
    )


def rolling_window_fingerprints(col: Column | str, window: int = 8) -> Column:
    """Hash of every ``window``-token span (array<long>, one per start
    position) — the alignment/content-defined-chunking probe: two documents
    sharing any span hash share a verbatim ``window``-token run.  O(n·w)
    interpreted expression work per doc; for chunk-boundary detection at
    scale prefer sampling positions (e.g. spans where hash % 64 == 0)."""
    def spans(hs: Column) -> Column:
        starts = F.sequence(F.lit(1), F.greatest(F.size(hs) - window + 1, F.lit(1)))
        return F.transform(
            starts,
            lambda i: F.aggregate(
                F.slice(hs, i, window),
                F.lit(0).cast("long"),
                lambda a, h: (a * F.lit(ROLL_B) + h) % F.lit(ROLL_M),
            ),
        )

    return bind(_token_hashes(col), spans)


# ---------------------------------------------------------------------------
# per-language quality calibration
# ---------------------------------------------------------------------------

# quality signals used for calibration; rounded then cast to decimal so the
# per-language moments are EXACT sums (shuffle-order-independent, and an SQL
# oracle reproduces them bit-for-bit)
CAL_SIGNALS = ("sw", "mwl", "ntok")
_SIG_DEC = "decimal(14,4)"


def _calibration_signals(col: Column | str) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    return {
        "sw": F.round(stopword_ratio(c), 4).cast(_SIG_DEC),
        "mwl": F.round(mean_word_length(c), 4).cast(_SIG_DEC),
        "ntok": token_count(c).cast(_SIG_DEC),
    }


def language_quality_stats(staged: DataFrame) -> DataFrame:
    """Per-language moments of the calibration signals over a frame already
    carrying ``cal_lang`` + ``sig_*`` columns (see ``calibrated_quality``).
    One row per language: count, exact decimal sum and sum-of-squares per
    signal — a tiny aggregate that is broadcast back onto the corpus."""
    aggs = [F.count(F.lit(1)).alias("n_lang")]
    for k in CAL_SIGNALS:
        aggs.append(F.sum(F.col(f"sig_{k}")).alias(f"sum_{k}"))
        aggs.append(F.sum(F.col(f"sig_{k}") * F.col(f"sig_{k}")).alias(f"ssq_{k}"))
    return staged.groupBy("cal_lang").agg(*aggs)


def calibrated_quality(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    z_cut: float = 2.0,
) -> DataFrame:
    """Per-language quality calibration: a fixed global threshold penalizes
    languages with naturally different stopword density / word length, so
    instead each signal is judged against ITS OWN language's distribution —
    typical = within ``z_cut`` standard deviations of the language mean.

    Adds ``cal_lang`` (predicted language unless ``lang_col`` given) and
    ``n_ok`` (0-3: how many signals are language-typical).  Mean/variance are
    derived from exact decimal sums in pure double IEEE arithmetic, so a
    DuckDB oracle writing the same formulas matches exactly.  Two passes over
    the text regexes (moments + probe); at scale persist/localCheckpoint the
    staged projection if the text column is large.
    """
    sig = _calibration_signals(text_col)
    lang = (F.col(lang_col) if lang_col else lang_id(text_col)).alias("cal_lang")
    staged = df.select("*", lang, *[v.alias(f"sig_{k}") for k, v in sig.items()])
    stats = language_quality_stats(staged)
    out = staged.join(F.broadcast(stats), "cal_lang")
    n = F.col("n_lang")
    oks = []
    for k in CAL_SIGNALS:
        x = F.col(f"sig_{k}").cast("double")
        s = F.col(f"sum_{k}").cast("double")
        q = F.col(f"ssq_{k}").cast("double")
        mean = s / n
        var = F.when(n > 1,
                     F.greatest((q - s * s / n) / (n - 1), F.lit(0.0))).otherwise(F.lit(0.0))
        sd = F.sqrt(var)
        oks.append(
            F.when((sd == F.lit(0.0)) | (F.abs(x - mean) <= F.lit(z_cut) * sd), 1).otherwise(0)
        )
    return out.withColumn("n_ok", (oks[0] + oks[1] + oks[2]).cast("int"))


def document_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full per-document analysis column set."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.round(punct_ratio(c), 4).alias("punct_ratio"),
        F.round(stopword_ratio(c), 4).alias("stopword_ratio"),
        F.round(mean_word_length(c), 4).alias("mean_word_len"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("pred_lang"),
        fingerprint(c).alias("fp"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_len: int = 2,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — keyword extraction for corpus
    curation, pure built-in expressions (no UDFs).

    Plan at scale: explode -> (doc,term) count (one shuffle), term doc-freq
    re-aggregated from the tf frame (second shuffle, one row per distinct
    term), doc count as a broadcast 1-row join, then a per-doc window for
    the top-k.  Ranking orders by (tf DESC, term ASC) - integer-exact, so
    ranking never depends on float log round-off; the reported score is
    ``round(tf * ln(n_docs/df), 4)`` (display-rounded, engine-portable).

    Output: ``(id_col, term, tf long, df long, score double, rk int)``.
    """
    did = F.col(id_col)
    tok = (
        docs.select(did, F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"))
        .where((F.col("term") != "") & (F.length("term") >= min_len))
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            did, "term", "tf", "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias("score"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def unigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
    oov_logprob: float = -12.0,
) -> DataFrame:
    """CCNet-style language-model quality proxy without an external LM:
    train a unigram model on the corpus ITSELF (top-``vocab_size`` tokens by
    frequency, probabilities from corpus counts), then score each document
    by its mean token log-probability.  Low scores = unusual/garbled token
    distributions - the cheap first-pass quality filter.

    Two corpus passes, both shuffle-bounded: (1) token counts -> top-k vocab
    (k rows, broadcast back), (2) per-doc mean logprob via a map-side join
    on the broadcast vocab.  OOV tokens get a fixed penalty logprob.

    Output: ``(id_col, n_tokens long, mean_logprob double)`` rounded to 4
    decimals (ln ulp differences between engines vanish at that scale).
    """
    did = F.col(id_col)
    tok = docs.select(
        did, F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term")
    ).where(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    vocab = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(vocab_size)
        .select("term", (F.log(F.col("cnt") / F.col("n_total"))).alias("lp"))
    )
    scored = (
        tok.join(F.broadcast(vocab), "term", "left")
        .select(did, F.coalesce("lp", F.lit(float(oov_logprob))).alias("lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 4).alias("mean_logprob"),
        )
    )
    return scored


# ---------------------------------------------------------------------------
# composable quality-filter pipeline (Dolma tagger/mixer shape)
# ---------------------------------------------------------------------------

def filter_pipeline(
    df: DataFrame,
    rules: list[tuple[str, Column]],
    mode: str = "report",
) -> DataFrame:
    """Compose named boolean quality rules into ONE scan - the
    tagger->mixer pattern of LLM-corpus pipelines (Dolma, CCNet, RefinedWeb)
    without materializing per-tagger intermediates.

    ``rules`` is ``[(name, keep_condition_column), ...]`` - build conditions
    from the signal functions in this module (token_count, stopword_ratio,
    dup_token_ratio, lang_id, ...), all pure JVM expressions.  NULL
    conditions (e.g. a ratio over an empty doc) count as FAILED - a doc the
    rule cannot evaluate is not silently kept.

    mode="report": adds one boolean ``ok_<name>`` per rule, ``kept``, and
    ``drop_reason`` (first failing rule in order, NULL when kept) - the
    audit table that lets you tune thresholds from one pass over the corpus.
    mode="filter": returns only surviving rows, original schema.

    Single narrow projection; no shuffle, no join, no UDF.  At 100 TB the
    whole pipeline is one whole-stage-codegen pass over the scan.
    """
    if mode not in ("report", "filter"):
        raise ValueError(f"mode must be 'report' or 'filter', got {mode!r}")
    if not rules:
        raise ValueError("rules must be non-empty")
    if mode == "report":
        # appending report columns over an input that already has them
        # (e.g. the report of a previous pass) would create duplicate
        # column names and AMBIGUOUS_REFERENCE errors downstream
        reserved = {"kept", "drop_reason"} | {f"ok_{n}" for n, _ in rules}
        clash = sorted(reserved & set(df.columns))
        if clash:
            raise ValueError(
                f"input already has report column(s) {clash}; drop or "
                "rename them (are you re-running report mode on a report?)")
    oks = [(name, F.coalesce(cond, F.lit(False))) for name, cond in rules]
    kept = reduce(lambda a, b: a & b, [c for _, c in oks])
    if mode == "filter":
        return df.where(kept)
    reason = None
    for name, c in oks:
        step = F.when(~c, F.lit(name))
        reason = step if reason is None else reason.when(~c, F.lit(name))
    return df.select(
        "*",
        *[c.alias(f"ok_{name}") for name, c in oks],
        kept.alias("kept"),
        reason.alias("drop_reason"),
    )


# ---------------------------------------------------------------------------
# character-entropy gate (gibberish / degenerate-text filter)
# ---------------------------------------------------------------------------

_ENT_DEC = "decimal(38,15)"


def char_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_entropy: float = 1.0,
) -> DataFrame:
    """Per-document Shannon entropy (nats) of the character distribution of
    lowercased text, plus a pass flag: degenerate documents ("aaaa...",
    single repeated phrase as one long run) have near-zero entropy, while
    natural language sits in a band (~2.5-3.2 nats for English letters+
    space).  The cheap first gate against binary-garbage and stuck-key
    spam, run alongside the Gopher repetition gate.

    Scale: explode-to-chars never reaches the shuffle - the (doc, char)
    count is partially aggregated map-side, so at most
    |alphabet-per-doc| rows per doc cross the wire (a 1 MB doc of ASCII
    contributes <=~100 rows, not 10^6).  The per-doc total then comes
    from a window over the already-(doc,char)-keyed counts and the final
    per-doc aggregate reuses the same hash partitioning on the doc key.
    Cross-engine determinism: each -p*ln(p) term is rounded to 12
    decimals and summed as DECIMAL(38,15) (order-free exact sum), then
    the entropy is rounded to 6 - the same fixed-order discipline as
    zipf_profile."""
    ch = (docs.select(F.col(id_col),
                      F.explode(F.split(F.lower(F.col(text_col)), ""))
                      .alias("ch"))
          .where(F.col("ch") != ""))
    counts = ch.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    wn = Window.partitionBy(id_col)
    p = F.col("cnt").cast("double") / F.col("n")
    term = F.round(p * F.log(p), 12).cast(_ENT_DEC)
    per = (counts.withColumn("n", F.sum("cnt").over(wn))
           .select(F.col(id_col), F.col("n"), term.alias("t")))
    ent = F.round(-F.sum("t").cast("double"), 6)
    return (per.groupBy(id_col)
            .agg(F.max("n").cast("long").alias("n_chars"),
                 F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
                 ent.alias("entropy"),
                 (ent >= F.lit(float(min_entropy))).alias("ok_entropy")))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag-of-words
    query (Robertson et al.) - the ranking function behind keyword
    retrieval over a training corpus, pure built-in expressions.

    Plan at scale: document length comes straight from the token ARRAY
    (``size``; no explode), so the only exploded relation is immediately
    filtered to the query terms - the shuffled (doc, term) tf frame is
    bounded by |query| x |matching docs|, never the corpus token count.
    Term doc-frequencies re-aggregate from tf (|query| rows) and join
    back broadcast; corpus stats (N, avgdl) are one broadcast row.
    One corpus-wide agg + two query-bounded shuffles total.

    Cross-engine determinism: per-(doc, term) partials are computed in
    one fixed expression-tree order, rounded to 6 decimals, and summed
    as DECIMAL(18,6) (order-free exact sum) - the zipf/entropy
    discipline; ``avgdl`` divides two exact integers, so every input to
    the float expression is bit-identical across engines.

    Output: ``(id_col, score double)`` for documents matching >=1 term.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                    lambda t: t != "")
    base = (docs.where(F.col(text_col).isNotNull())
            .select(F.col(id_col), toks.alias("toks"))
            .withColumn("dl", F.size("toks")))
    corpus = base.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.avg("dl").alias("avgdl"))
    tf = (base.select(id_col, "dl", F.explode("toks").alias("term"))
          .where(F.col("term").isin(list(query_terms)))
          .groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(k1)
             * (F.lit(1.0) - F.lit(b)
                + F.lit(b) * F.col("dl") / F.col("avgdl")))
    part = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(corpus))
              .select(F.col(id_col),
                      F.round(part, 6).cast("decimal(18,6)").alias("s")))
    return (scored.groupBy(id_col)
            .agg(F.sum("s").cast("double").alias("score")))
