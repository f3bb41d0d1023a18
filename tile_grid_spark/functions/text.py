"""Text analysis for large-scale training-data pipelines.

All hot-path functions are native Column expressions (JVM, codegen);
language ID uses a tiny broadcast n-gram profile table + native
map_filter/aggregate — no Python in the loop.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length/punct/stopword/repetition ratios), language ID (character n-gram
heuristic), document fingerprinting (full/prefix md5 + rolling shingle
hashes used by the dedup suite).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization / counting
# ---------------------------------------------------------------------------

# BPE-ish pretokenizer: word pieces, numbers, punctuation runs — a regex in
# the spirit of the GPT-2 pattern, simplified to RE2-safe constructs.
BPE_SPLIT = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+|\s+"


def whitespace_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), r"\s+"))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of regexp pretokens (upper bound on BPE token count)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.regexp_extract_all(c, F.lit(BPE_SPLIT), 0)
    nonspace = F.filter(toks, lambda t: F.trim(t) != F.lit(""))
    return F.size(nonspace)


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that with for on as at by"
).split()


def with_quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Attach quality-signal columns (all native):
    n_chars, n_tokens, punct_ratio, digit_ratio, upper_ratio,
    stopword_ratio, mean_token_len, max_repeat_ratio (most frequent token
    share), quality_score in [0,1]."""
    c = F.col(text)
    n_chars = F.length(c)
    tokens = F.split(F.trim(F.lower(c)), r"\s+")
    n_tokens = F.size(tokens)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    # most frequent token share via aggregate over a count map
    tok_counts = F.aggregate(
        tokens,
        F.create_map().cast("map<string,int>"),
        lambda acc, t: F.map_zip_with(
            acc,
            F.create_map(t, F.lit(1)),
            lambda k, v1, v2: F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0)),
        ),
    )
    max_rep = F.array_max(F.map_values(tok_counts))

    df = df.withColumns(
        {
            "n_chars": n_chars,
            "n_tokens": n_tokens,
            "punct_ratio": punct / F.greatest(n_chars, F.lit(1)).cast("double"),
            "digit_ratio": digits / F.greatest(n_chars, F.lit(1)).cast("double"),
            "upper_ratio": uppers / F.greatest(n_chars, F.lit(1)).cast("double"),
            "stopword_ratio": n_stop / F.greatest(n_tokens, F.lit(1)).cast("double"),
            "mean_token_len": n_chars / F.greatest(n_tokens, F.lit(1)).cast("double"),
            "max_repeat_ratio": max_rep / F.greatest(n_tokens, F.lit(1)).cast("double"),
        }
    )
    # simple monotone score: long enough, not punct/digit soup, some
    # stopwords (natural language), not dominated by one token
    score = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
        * (F.lit(1.0) - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0)))
        * (F.lit(1.0) - F.least(F.col("digit_ratio") * 4.0, F.lit(1.0)))
        * (F.lit(0.5) + F.least(F.col("stopword_ratio") * 2.5, F.lit(0.5)))
        * (F.lit(1.0) - F.least(F.greatest(F.col("max_repeat_ratio") - 0.2, F.lit(0.0)), F.lit(1.0)))
    )
    return df.withColumn("quality_score", F.round(score, 6))


def with_quality_filter(
    df: DataFrame,
    text: str = "text",
    min_tokens: int = 25,
    max_tokens: int = 10_000,
    min_mean_tok: float = 3.0,
    max_mean_tok: float = 6.0,
    max_punct: float = 0.1,
    min_stop_hits: int = 2,
    stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to"),
) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021, appendix A — public):
    per-rule boolean flags + overall `passes`, all native Columns so the
    whole filter is one codegen'd scan with zero shuffle — the shape a
    100-TB corpus filter must have (a mapper; selectivity applied before
    anything downstream shuffles).

    Rules (each gets a fail_* flag):
    - token count within [min_tokens, max_tokens]
    - mean token length (n_chars / n_tokens) within [min_mean_tok, max_mean_tok]
    - punctuation ratio <= max_punct
    - at least min_stop_hits distinct stopwords present as whole tokens
      (natural-language prior; sliced from the head of `stopwords`)
    """
    c = F.col(text)
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    nt = F.size(toks)
    nc = F.length(c)
    mean_tok = nc / F.greatest(nt, F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", "")) / F.greatest(
        nc, F.lit(1)
    ).cast("double")
    # F.lit(0) seed: an empty stopwords tuple must mean "rule disabled
    # when min_stop_hits <= 0" (0 < 0 is False), not a TypeError from a
    # None accumulator
    stop_hits = F.lit(0)
    for w in stopwords:
        stop_hits = stop_hits + F.array_contains(toks, w).cast("int")
    out = df.withColumns(
        {
            "fail_tokens": (nt < min_tokens) | (nt > max_tokens),
            "fail_wordlen": (mean_tok < min_mean_tok) | (mean_tok > max_mean_tok),
            "fail_punct": punct > max_punct,
            "fail_stop": stop_hits < min_stop_hits,
        }
    )
    return out.withColumn(
        "passes",
        ~(
            F.col("fail_tokens")
            | F.col("fail_wordlen")
            | F.col("fail_punct")
            | F.col("fail_stop")
        ),
    )


def with_repetition_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A —
    public): the repetition family of quality rules that
    `with_quality_filter` does not cover. Attaches, per row:

    - ``n_lines``             lines after splitting on ``\\n``
    - ``dup_line_frac``       (n_lines − n_distinct_lines) / n_lines —
      the fraction of line occurrences that repeat an earlier line
    - ``dup_line_char_frac``  chars inside those repeat occurrences
      (count−1 per distinct duplicated line) / total line chars
    - ``top_bigram_char_frac`` chars covered by every occurrence of the
      most frequent word bigram (joined with one space) / total chars

    All native Columns — the whole computation is one codegen'd scan
    with ZERO shuffle, the only shape a 100-TB corpus filter can afford
    (repetition scoring is a mapper; selectivity happens before anything
    downstream shuffles). Intermediate arrays (lines, tokens, bigrams,
    count maps) are materialized as real columns in staged projections:
    composing split()+aggregate in one expression re-evaluates the split
    per lambda step — the measured O(len^2) Catalyst HOF trap (see
    with_rolling_fingerprints).
    """
    c = F.col(text)
    df = df.withColumn("_lines", F.split(c, "\n")).withColumn(
        "_toks", F.split(F.trim(F.lower(c)), r"\s+")
    )
    # distinct-line count map: {line -> occurrences}
    df = df.withColumn(
        "_lc",
        F.aggregate(
            F.col("_lines"),
            F.create_map().cast("map<string,int>"),
            lambda acc, t: F.map_zip_with(
                acc,
                F.create_map(t, F.lit(1)),
                lambda k, v1, v2: F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0)),
            ),
        ),
    )
    n_lines = F.size("_lines")
    n_distinct = F.size(F.map_keys("_lc"))
    dup_chars = F.aggregate(
        F.map_entries("_lc"),
        F.lit(0),
        lambda acc, e: acc + (e["value"] - 1) * F.length(e["key"]),
    )
    tot_line_chars = F.aggregate(
        F.col("_lines"), F.lit(0), lambda acc, t: acc + F.length(t)
    )
    # word bigrams: zip(toks[:-1], toks[1:]); empty when < 2 tokens
    nt = F.size("_toks")
    df = df.withColumn(
        "_bg",
        F.zip_with(
            F.slice("_toks", 1, F.greatest(nt - 1, F.lit(0))),
            F.slice("_toks", 2, F.greatest(nt - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    df = df.withColumn(
        "_bgc",
        F.aggregate(
            F.col("_bg"),
            F.create_map().cast("map<string,int>"),
            lambda acc, t: F.map_zip_with(
                acc,
                F.create_map(t, F.lit(1)),
                lambda k, v1, v2: F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0)),
            ),
        ),
    )
    # argmax by (count, key-chars): struct comparison is field-ordered,
    # so ties between equal-count bigrams resolve to the LONGER key —
    # deterministic on both engines
    top = F.array_max(
        F.transform(
            F.map_entries("_bgc"),
            lambda e: F.struct(
                e["value"].alias("c"), F.length(e["key"]).alias("len")
            ),
        )
    )
    df = df.withColumns(
        {
            "n_lines": n_lines,
            "dup_line_frac": F.round(
                (n_lines - n_distinct) / F.greatest(n_lines, F.lit(1)).cast("double"),
                6,
            ),
            "dup_line_char_frac": F.round(
                dup_chars / F.greatest(tot_line_chars, F.lit(1)).cast("double"), 6
            ),
            "top_bigram_char_frac": F.round(
                F.coalesce(top["c"] * top["len"], F.lit(0))
                / F.greatest(F.length(c), F.lit(1)).cast("double"),
                6,
            ),
        }
    )
    return df.drop("_lines", "_toks", "_lc", "_bg", "_bgc")


# ---------------------------------------------------------------------------
# Language ID (n-gram heuristic)
# ---------------------------------------------------------------------------

# tiny per-language trigram/stopword profiles (public common-knowledge lists)
_LANG_MARKERS = {
    "en": ["the", "and", "ing", "ion", "of", "to"],
    "de": ["der", "die", "und", "sch", "ein", "ich"],
    "fr": ["les", "des", "ent", "que", "une", "est"],
    "es": ["los", "las", "que", "ión", "una", "del"],
    "it": ["che", "gli", "zione", "una", "per", "di"],
}


def with_lang_id(df: DataFrame, text: str = "text", out: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: score = sum of marker-token hits per language
    (token AND substring hits), argmax; 'und' (undetermined) when all zero."""
    lowered = F.lower(F.col(text))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        s = None
        for m in markers:
            hit = (
                F.size(F.split(lowered, F.lit(m).cast("string"), -1)) - 1
            )  # substring occurrence count
            s = hit if s is None else s + hit
        scores.append(F.struct(s.cast("long").alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out, F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])
    )


# ---------------------------------------------------------------------------
# Fingerprinting / shingles (shared by the dedup suite)
# ---------------------------------------------------------------------------

def compression_ratio_udf():
    """len(zlib(text)) / len(text) — the classic cheap redundancy signal
    for corpus quality filtering (boilerplate and spam compress far
    better than prose). Arrow-batched pandas UDF (zlib has no Column
    equivalent and no DuckDB oracle — gated by pytest instead)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def f(text: pd.Series) -> pd.Series:
        def ratio(s):
            if not s:
                return 1.0
            b = s.encode("utf-8", "ignore")
            return len(zlib.compress(b, 6)) / len(b)

        return text.map(ratio)

    return f


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (native transform over a token slice).

    One-expression form — fine for a single consumer. Anything hashing
    the shingles k times (MinHash) must STAGE the token and shingle
    arrays as real columns first (word_shingles_from_tokens + a
    withColumn), or Catalyst re-evaluates the split() per lambda element
    (the measured-25x HOF trap, see with_rolling_fingerprints)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    return word_shingles_from_tokens(toks, n)


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Shingles from an (ideally staged-column) token array — identical
    semantics to word_shingles."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - F.lit(n), F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(cnt < n, F.array(F.array_join(toks, " "))).otherwise(sh)


def source_boilerplate_ngrams(
    docs,
    id_col: str = "doc_id",
    text: str = "text",
    source: str = "source",
    n: int = 3,
    min_df_frac: float = 0.3,
    top_k: int = 5,
):
    """Boilerplate / stop-phrase detection per source: word n-grams
    ranked by DOCUMENT frequency within each source; a phrase occurring
    in >= min_df_frac of a source's documents is a template-boilerplate
    candidate — the corpus-hygiene signal computed before dedup in a
    training-data pipeline (boilerplate inflates near-dup similarity
    and poisons quality scores).

    Plan shape: per-doc distinct shingles (narrow), ONE shuffle on
    (source, shingle) for the document-frequency count, per-source doc
    totals broadcast back, window top-k. Returns (source, phrase,
    n_docs, df_frac, rank)."""
    from pyspark.sql.window import Window

    sh = docs.select(
        source,
        id_col,
        F.explode(F.array_distinct(word_shingles(F.col(text), n))).alias("_s"),
    )
    per_source = docs.groupBy(source).agg(F.count_distinct(F.col(id_col)).alias("_nd"))
    dfc = sh.groupBy(source, "_s").agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    j = (
        dfc.join(F.broadcast(per_source), source)
        .withColumn("df_frac", F.round(F.col("n_docs") / F.col("_nd"), 6))
        .filter(F.col("df_frac") >= F.lit(min_df_frac))
    )
    w = Window.partitionBy(source).orderBy(F.col("n_docs").desc(), F.col("_s"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(source, F.col("_s").alias("phrase"), "n_docs", "df_frac", "rank")
    )


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """64-bit rolling-shingle hashes (xxhash64 over word shingles)."""
    return F.transform(word_shingles(text, n), lambda s: F.xxhash64(s))


# Rabin-Karp-style polynomial base. 255*131^7*(131/130) < 2^63: the whole
# window hash stays in exact BIGINT arithmetic, so any engine that sums
# the same 8 integer terms reproduces it bit-for-bit (oracle-able, unlike
# murmur3/xxhash which are engine-specific).
ROLLING_BASE = 131
ROLLING_WINDOW = 8


def rolling_fingerprints(text: Column | str, window: int = ROLLING_WINDOW) -> Column:
    """Array of polynomial rolling hashes over `window`-char slices.

    hash(i) = sum_j ascii(text[i+j]) * BASE^(window-1-j) — classic
    Rabin-Karp document fingerprinting (winnow by taking array_min
    downstream). Native Columns only: one split to char codes, then a
    transform over window start positions.
    """
    c = F.col(text) if isinstance(text, str) else text
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return _rolling_from_codes(codes, F.length(c), window)


def _rolling_from_codes(codes: Column, text_len: Column, window: int) -> Column:
    n_win = text_len - F.lit(window - 1)
    pows = [ROLLING_BASE ** (window - 1 - j) for j in range(window)]

    def win_hash(i):
        terms = [
            F.element_at(codes, i + F.lit(j)) * F.lit(pows[j]) for j in range(window)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    return F.when(n_win < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))), win_hash)
    )


def with_rolling_fingerprints(
    df: DataFrame, text: str = "text", out: str = "fps", window: int = ROLLING_WINDOW
) -> DataFrame:
    """Staged-projection variant of rolling_fingerprints.

    Materializes the char-code array, then the window-hash array, as real
    columns. Composing everything into one expression makes Catalyst
    re-evaluate split() per lambda term (O(len^2 * window) per row — a
    measured 25x slowdown); two projections keep it O(len * window).
    """
    staged = df.withColumn(
        "_rk_codes",
        F.transform(F.split(F.col(text), ""), lambda ch: F.ascii(ch).cast("long")),
    ).withColumn("_rk_len", F.length(text))
    return staged.withColumn(
        out, _rolling_from_codes(F.col("_rk_codes"), F.col("_rk_len"), window)
    ).drop("_rk_codes", "_rk_len")


# --- PII scrubbing -----------------------------------------------------
# Training-corpus redaction: patterns are deliberately conservative and
# dialect-portable (Java regex on the Spark side, RE2 in the DuckDB
# oracle agree on \d, \b, bounded repeats, character classes).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+?\d[\d -]{7,}\d"


def with_pii_scrubbed(df: DataFrame, text: str = "text", out: str = "scrubbed") -> DataFrame:
    """Adds `out` (text with emails -> <EMAIL>, IPv4s -> <IP>, phone-ish
    digit runs -> <PHONE>, applied in that order so earlier redactions
    cannot re-match) plus n_emails / n_ips / n_phones counted on the
    ORIGINAL text. Pure native regexp Columns — a zero-shuffle mapper
    that fuses into whatever scan precedes it."""
    c = F.col(text)
    scrub = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    scrub = F.regexp_replace(scrub, PII_IPV4_RE, "<IP>")
    scrub = F.regexp_replace(scrub, PII_PHONE_RE, "<PHONE>")
    return df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0))),
            "n_ips": F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), F.lit(0))),
            "n_phones": F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0))),
            out: scrub,
        }
    )


def tfidf_topk_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the keyword/topic profile a
    corpus pipeline feeds into domain mixing, decontamination review and
    near-dup triage. score = tf * ln(N / df) over the whitespace
    tokenizer every other text op here uses.

    Returns (id_col, term, tf, df, score, rnk) for rnk <= k; ranking is
    on the ROUNDED score (6 dp, matching the lm_quality precedent so the
    DuckDB oracle orders identically) with the term string as the
    deterministic tie-break.

    Scale shape: one (doc, term) hash-agg (map-side partial), one
    term-keyed df agg whose output is |vocab| rows, a short-string-key
    join back (web-scale vocab stays off the driver — no collect), and
    the corpus size N rides as a broadcast 1-row frame. The final
    window's rank<=k is pushed below the exchange by WindowGroupLimit.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count("*").alias("_n"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n))
    score = (
        F.round(
            F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")), 6
        )
        + F.lit(0.0)
    ).alias("score")
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.select(id_col, "term", "tf", "df", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
