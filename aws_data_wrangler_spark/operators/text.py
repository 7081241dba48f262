"""Text-analysis operators for training-data pipelines.

Every operator here is pure ``pyspark.sql.functions`` — no Python
UDFs — so the whole computation stays inside whole-stage codegen and
scales linearly with executors. Each has an exact DuckDB-SQL oracle
(see plans/oracles.py).

Base-projection rule: an operator that derives several outputs from
the same expensive per-document quantity (a regex scan, a split, a
length) computes that quantity ONCE, into a hidden column of its own
projection, and derives every output from the column. The optimizer
keeps a projection whose non-trivial columns are read more than once
apart from its consumers, so each regex runs once per document; inlined,
the same feature expressions are re-evaluated in every output and every
conditional branch that names them (``with_quality_score``'s token
``split`` would appear 7 times in its executed plan).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_data_wrangler_spark.functions import trunc_digits

# word-boundary marker regexes per language (heuristic lang-id);
# deterministic and cheap — at 100 TB this is a single codegen'd
# projection over the scan, no shuffle.
LANG_MARKERS: List[Tuple[str, List[str]]] = [
    ("de", ["der", "die", "das", "und", "ist", "nicht"]),
    ("en", ["the", "and", "of", "to", "is", "that"]),
    ("es", ["el", "la", "los", "las", "es", "que"]),
    ("fr", ["le", "la", "les", "et", "est", "que"]),
    ("zh", ["的", "是", "了", "在", "我"]),
]

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# BPE-ish pre-tokenizer: letter runs | single digits | punctuation runs
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def _ws_token_count(text: Column) -> Column:
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document."""
    text = F.col(text_col)
    return df.withColumns(
        {
            "ws_tokens": _ws_token_count(text).cast("bigint"),
            "bpe_tokens": F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("bigint"),
        }
    )


def with_gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style heuristic document-quality gate (Rae et al. 2021
    §A1.1 rules, re-expressed as codegen'd expressions): word count
    bounds, mean word length band, symbol-to-word ratio, fraction of
    words containing an alphabetic character, and a minimum stopword
    hit count. Emits the per-rule features plus the composite
    ``gopher_keep`` flag — a FLAG, not a filter, so pipelines can
    audit what a threshold change would drop before applying it.

    Pure ``pyspark.sql.functions`` (one projection over the scan, no
    shuffle, no Python); every ratio is floor-truncated at 6dp and the
    keep decision compares the truncated values, so a second engine
    reproduces both features and decision bit-for-bit.
    """
    text = F.col(text_col)
    trimmed = F.trim(text)
    words = F.split(trimmed, r"\s+")
    n_words = _ws_token_count(text).cast("double")
    # non-whitespace chars / words = mean word length
    word_chars = F.length(F.regexp_replace(trimmed, r"\s", "")).cast("double")
    mean_word_len = trunc_digits(
        F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
    alpha_ratio = trunc_digits(
        F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))
    )
    symbols = (
        F.size(F.regexp_extract_all(text, F.lit(r"#"), 0))
        + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0))
    ).cast("double")
    symbol_ratio = trunc_digits(
        F.when(n_words > 0, symbols / n_words).otherwise(F.lit(0.0))
    )
    stop_pattern = r"\b(" + "|".join(STOPWORDS) + r")\b"
    stop_hits = F.size(F.regexp_extract_all(F.lower(text), F.lit(stop_pattern), 0))
    keep = (
        (n_words >= 10)
        & (n_words <= 100000)
        & (mean_word_len >= 2.0)
        & (mean_word_len <= 12.0)
        & (symbol_ratio < 0.1)
        & (alpha_ratio > 0.6)
        & (stop_hits >= 2)
    )
    return df.withColumns(
        {
            "gopher_words": n_words.cast("bigint"),
            "gopher_mean_word_len": mean_word_len,
            "gopher_alpha_ratio": alpha_ratio,
            "gopher_symbol_ratio": symbol_ratio,
            "gopher_stop_hits": stop_hits.cast("bigint"),
            "gopher_keep": keep,
        }
    )


def _ratio(num: Column, den: Column) -> Column:
    """``num / den`` in double, 0.0 when ``den`` is 0, NULL when it is NULL."""
    return F.when(den == 0, F.lit(0.0)).otherwise(num.cast("double") / den.cast("double"))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features and
    a composite score in [0, 1]. All arithmetic in double so the
    DuckDB oracle reproduces it bit-for-bit. NULL text scores NULL.

    The four per-document counts (characters, whitespace tokens,
    punctuation characters, stopword hits) are one base projection of
    hidden columns; the ratios and the score read those columns (see
    the module docstring)."""
    text = F.col(text_col)
    stop_pattern = r"\b(" + "|".join(STOPWORDS) + r")\b"
    counts = {
        "__q_chars": F.length(text),
        "__q_tokens": _ws_token_count(text),
        "__q_punct": F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", "")),
        "__q_stops": F.size(F.regexp_extract_all(F.lower(text), F.lit(stop_pattern), 0)),
    }
    # outside ANSI mode size() of a NULL array is -1, not NULL
    base = {name: F.when(text.isNotNull(), count) for name, count in counts.items()}
    n_chars, tokens, punct, stops = (F.col(c) for c in base)
    punct_ratio = _ratio(punct, n_chars)
    stop_ratio = _ratio(stops, tokens)
    score = trunc_digits(
        F.lit(0.4) * F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0))
        + F.lit(0.3) * F.least(stop_ratio * 5.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0)))
    )
    return (
        df.withColumns(base)
        .withColumns(
            {
                "n_chars_q": n_chars.cast("bigint"),
                "ws_tokens": tokens.cast("bigint"),
                "punct_ratio": trunc_digits(punct_ratio),
                "stopword_ratio": trunc_digits(stop_ratio),
                "mean_word_len": trunc_digits(_ratio(n_chars, tokens)),
                # least() skips NULLs, so NULL counts alone leave the score non-NULL
                "quality_score": F.when(n_chars.isNotNull(), score),
            }
        )
        .drop(*base)
    )


def with_char_entropy(
    df: DataFrame, text_col: str = "text", out_col: str = "char_entropy"
) -> DataFrame:
    """Shannon entropy of the character distribution, in bits — the
    classic gibberish/boilerplate screen: natural prose sits ~4–4.5
    bits, base64 blobs and key-mash noise push toward log2(charset),
    repeated-character padding collapses toward 0. A standard
    pretraining quality gate alongside the Gopher/C4 rules.

    Zero-shuffle HOF projection (the C4-rules discipline): per row,
    H = (ln N − (Σ_c n_c·ln n_c)/N) / ln 2 with the per-character
    counts from a sorted-distinct-characters loop — O(distinct·len)
    comparisons per row, all inside whole-stage codegen, no explode
    and no (doc, char) shuffle. The Σ folds left over SORTED distinct
    characters, so the IEEE chain is deterministic and DuckDB
    replicates it term-for-term (list_reduce over the same order).
    Empty text scores 0.0."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
    n = F.size(chars).cast("double")
    uniq = F.array_sort(F.array_distinct(chars))
    counts = F.transform(
        uniq, lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double")
    )
    sum_nlogn = F.aggregate(
        counts, F.lit(0.0), lambda acc, k: acc + k * F.log(k)
    )
    entropy = F.when(
        n > 0, (F.log(n) - sum_nlogn / n) / F.log(F.lit(2.0))
    ).otherwise(F.lit(0.0))
    return df.withColumn(out_col, trunc_digits(entropy))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-stopword-profile language guess.

    Ties break to the alphabetically-first language, so the result is
    deterministic and SQL-reproducible. NULL text guesses NULL. Real
    deployments would swap in a fastText-style model via a pandas UDF;
    the plumbing is identical.

    One regex scan of the lowered text collects every marker word of
    every language (a hidden base column); each language then counts
    its own markers among those hits. Every match is a whole
    ``\\b``-delimited word, so the hits are the same words a per-language
    scan would find, and a word two languages share counts for both.
    """
    markers = sorted({m for _, words in LANG_MARKERS for m in words})
    pattern = r"\b(" + "|".join(markers) + r")\b"
    hits = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), 0)
    score_cols = [
        F.aggregate(
            "__lang_hits", F.lit(0), lambda acc, w: acc + w.isin(*words).cast("int")
        ).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS
    ]
    scored = df.withColumn("__lang_hits", hits).select("*", *score_cols).drop("__lang_hits")
    # argmax with alphabetical tie-break (LANG_MARKERS is sorted):
    # array_position finds the FIRST maximum. Array-based instead of a
    # when/otherwise fold — the fold nests each score reference up to
    # 2^k times, which explodes the expression tree when a downstream
    # filter inlines it (codegen compile time, measured on the
    # curation pipeline's pinned filter).
    scores = F.array(*[F.col(f"score_{lang}") for lang, _ in LANG_MARKERS])
    names = F.array(*[F.lit(lang) for lang, _ in LANG_MARKERS])
    best = F.array_max(scores)
    lang_pred = F.element_at(names, F.array_position(scores, best).cast("int"))
    return scored.withColumn("lang_pred", F.when(best.isNotNull(), lang_pred)).withColumn(
        "lang_score", best.cast("bigint")
    )


def unigram_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained unigram LM surprisal per document:
    (id, n_toks, avg_surprisal) where avg_surprisal = mean of
    ``-ln(count(w)/N)`` over the document's tokens — the CCNet-style
    perplexity-filtering proxy (documents of improbable words score
    high; boilerplate scores low) computed without an external model.

    Scale shape: one token-count aggregate (map-side partials) whose
    result is vocabulary-sized and broadcast back onto the token
    stream — the corpus is never shuffled twice. Cross-engine float
    discipline: per-doc token log-probs are folded in POSITION order
    (``sort_array`` of (pos, lp) structs → sequential ``aggregate``),
    so the sum is bit-identical to DuckDB's ordered ``list_sum`` and
    the result truncates at 6dp.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("pos", "tok"),
    ).filter(F.length("tok") > 0)
    # one tokenization pass builds the vocabulary count table (cached:
    # it is referenced by BOTH the total-sum action and the scored
    # join's broadcast build — uncached, each reference would re-run
    # tokenization, back to three corpus passes); deriving N from it
    # replaces the old separate toks.count() third pass. The cache is
    # vocabulary-sized and stays resident for the returned plan's
    # lifetime — the same deliberate reuse-point pattern as the minhash
    # signature table; callers scoring many corpora in one session
    # reclaim it with unpersist()/clearCache().
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).cache()
    total = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    scored = toks.join(F.broadcast(counts), "tok").select(
        F.col(id_col),
        F.struct(F.col("pos"), (-F.log(F.col("cnt") / F.lit(float(total)))).alias("lp")).alias("s"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sort_array(F.collect_list("s")).alias("lps"),
    )
    folded = F.aggregate(
        F.transform(F.col("lps"), lambda s: s["lp"]), F.lit(0.0), lambda acc, x: acc + x
    )
    return per_doc.select(
        F.col(id_col),
        F.size("lps").cast("bigint").alias("n_toks"),
        trunc_digits(folded / F.size("lps")).alias("avg_surprisal"),
    )


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lambda_bigram: float = 0.7,
) -> DataFrame:
    """Corpus-trained interpolated-bigram LM surprisal per document —
    one rung up from ``unigram_surprisal`` toward the KenLM perplexity
    filter CCNet uses: (id, n_toks, avg_surprisal) where each token
    after the first scores ``-ln(λ·p(w|prev) + (1−λ)·p(w))`` and the
    first token scores its unigram surprisal. Repetitive boilerplate
    has predictable continuations → low surprisal; incoherent or
    out-of-domain text scores high.

    Scale shape: bigrams are built map-side from the token ARRAY
    (posexplode over slices — no window, no shuffle to form pairs);
    the unigram table is vocabulary-sized and broadcast, the bigram
    and context tables join on their own keys (plain shuffle joins —
    bigram vocabularies outgrow broadcast at corpus scale, and AQE
    may still broadcast them when they measure small). Per-doc
    log-prob folds run in position order (sort_array of (pos, lp)
    structs), the same cross-engine float discipline as
    ``unigram_surprisal``, truncated at 6dp.
    """
    if not 0.0 <= lambda_bigram <= 1.0:
        raise ValueError(f"lambda_bigram must be in [0, 1], got {lambda_bigram}")
    # split on trimmed text never yields empty tokens, so no HOF filter
    # is needed (array HOFs are CodegenFallback — SURVEY §6)
    toks_arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks_arr.alias("_toks"))
    )
    unigrams = base.select(
        F.col(id_col), F.posexplode("_toks").alias("pos", "tok")
    )
    # (pos, prev, tok) for pos >= 1, straight from the array — the pair
    # construction is a pure map-stage fan-out
    bigrams = (
        base.where(F.size("_toks") > 1)
        .select(
            F.col(id_col),
            F.posexplode(F.slice("_toks", 2, F.size("_toks") - 1)).alias("_i", "tok"),
            F.col("_toks"),
        )
        .select(
            F.col(id_col),
            (F.col("_i") + 1).alias("pos"),
            F.element_at("_toks", F.col("_i") + 1).alias("prev"),
            F.col("tok"),
        )
    )
    counts_uni = unigrams.groupBy("tok").agg(F.count(F.lit(1)).alias("uni_cnt"))
    # the corpus token total == the unigram row count — computed off
    # the pre-agg plan, so counts_uni needs no cache (the two broadcast
    # references below are the identical subtree and share one
    # ReusedExchange; nothing stays pinned in executor storage)
    total = unigrams.count()
    counts_bi = bigrams.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("bi_cnt"))
    counts_ctx = counts_bi.groupBy("prev").agg(F.sum("bi_cnt").alias("ctx_cnt"))
    lam = F.lit(float(lambda_bigram))
    p_uni = F.col("uni_cnt") / F.lit(float(total))
    first = (
        unigrams.filter(F.col("pos") == 0)
        .join(F.broadcast(counts_uni), "tok")
        .select(F.col(id_col), F.struct(F.col("pos"), (-F.log(p_uni)).alias("lp")).alias("s"))
    )
    p_bi = F.col("bi_cnt").cast("double") / F.col("ctx_cnt").cast("double")
    rest = (
        bigrams.join(counts_bi, ["prev", "tok"])
        .join(counts_ctx, "prev")
        .join(F.broadcast(counts_uni), "tok")
        .select(
            F.col(id_col),
            F.struct(
                F.col("pos"), (-F.log(lam * p_bi + (F.lit(1.0) - lam) * p_uni)).alias("lp")
            ).alias("s"),
        )
    )
    per_doc = first.unionByName(rest).groupBy(id_col).agg(
        F.sort_array(F.collect_list("s")).alias("lps")
    )
    folded = F.aggregate(
        F.transform(F.col("lps"), lambda s: s["lp"]), F.lit(0.0), lambda acc, x: acc + x
    )
    return per_doc.select(
        F.col(id_col),
        F.size("lps").cast("bigint").alias("n_toks"),
        trunc_digits(folded / F.size("lps")).alias("avg_surprisal"),
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint (md5 over lowercased alnum-only
    text) — the document-identity key used by exact dedup."""
    normalized = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
    return df.withColumn("fingerprint", F.md5(normalized))


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Overlapping token-window chunking (context-window packing for LM
    training). Emits one row per chunk: ``(id, chunk_idx, chunk_text,
    n_tokens)``; consecutive chunks overlap by ``chunk_size - stride``
    tokens.

    Pure codegen path: split → ``sequence`` of window starts →
    ``posexplode`` → ``slice`` + ``array_join``. The explode multiplies
    rows ~``1/stride`` per token but stays shuffle-free — chunking a
    100 TB corpus is a single map stage whose output can be written
    partition-local.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError("require 0 < stride <= chunk_size")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks.alias("_toks"))
    )
    starts = F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
    return base.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_idx", "_start"),
        F.col("_toks"),
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.array_join(F.slice("_toks", F.col("_start") + 1, F.lit(chunk_size)), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk_size), F.size("_toks") - F.col("_start"))
        .cast("bigint")
        .alias("n_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document to the
    fixed-token-budget training sequence in which it starts.

    Documents are laid out in deterministic hash order within each
    stratum (the same md5-order used by the sampling operators, so
    packing composes with sampling), token offsets accumulate via a
    running-sum window, and ``seq_id = floor(start_offset / budget)``
    — the standard LM concat-and-chunk data layout. Emits one row per
    document: ``(id, stratum, ws_tokens, seq_id, seq_offset)``.

    Scale: the window partitions by ``strata_col`` (a data source /
    mixture component), so each stratum's running sum is one sorted
    shuffle partition — never a global single-partition sort. At
    100 TB you'd sub-shard giant strata (e.g. by hash prefix) the same
    way; the per-shard layout stays deterministic.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("ws_tokens").over(w) - F.col("ws_tokens")).alias("_start")
    return (
        with_token_counts(df, text_col)
        .select(
            F.col(id_col),
            F.col(strata_col),
            "ws_tokens",
            start,
        )
        .select(
            id_col,
            strata_col,
            "ws_tokens",
            F.floor(F.col("_start") / F.lit(budget)).cast("bigint").alias("seq_id"),
            (F.col("_start") % F.lit(budget)).cast("bigint").alias("seq_offset"),
        )
    )


# PII patterns (RE2/Java-compatible subset: no backrefs/lookaround, so
# the same pattern string runs in Spark and the DuckDB oracle).
# Replacement order matters and is fixed: email → phone → ip.
PII_PATTERNS: List[Tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
]


# HTML boilerplate removal (ingest-stage text extraction). Patterns
# avoid backreferences and stay in the RE2-compatible subset so the
# DuckDB oracle can run the IDENTICAL regex chain; flags are inline
# ((?is)) for the same reason. Order matters: comments and
# script/style blocks go before generic tags (their content must not
# survive tag stripping), and &amp; decodes LAST so "&amp;lt;" yields
# the literal "&lt;" rather than re-decoding.
HTML_STRIP_STEPS: List[Tuple[str, str]] = [
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<[^>]*>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
]

HTML_TAG_RE = r"(?s)<[^>]*>"


def strip_html(df: DataFrame, text_col: str = "text", out_col: str = "clean_text") -> DataFrame:
    """Extract visible text from HTML: drop comments and script/style
    blocks (content included), strip remaining tags, decode the common
    entities, and collapse whitespace. Adds ``n_html_tags`` (tag count
    measured on the ORIGINAL text) so pipelines can audit how much
    markup each document carried.

    Like the PII scrubber this is a pure codegen'd regex projection —
    at 100 TB it fuses into the ingest scan with zero shuffle. It is a
    boilerplate REMOVER, not an HTML parser: malformed markup degrades
    to leaving fragments in place, never to dropping visible text.
    """
    text = F.col(text_col)
    cleaned = text
    for pat, repl in HTML_STRIP_STEPS:
        cleaned = F.regexp_replace(cleaned, pat, repl)
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return df.withColumns(
        {
            "n_html_tags": F.size(F.regexp_extract_all(text, F.lit(HTML_TAG_RE), 0)).cast("bigint"),
            out_col: cleaned,
        }
    )


def with_canonical_url(
    df: DataFrame,
    url_col: str = "url",
    canonical_col: str = "canonical_url",
    domain_col: str = "domain",
    registered_col: str = "registered_domain",
) -> DataFrame:
    """URL canonicalization for per-domain curation — the strata column
    the web-curation recipes this engine mirrors (C4, RefinedWeb,
    Gopher) dedup and mix BY: strip whitespace, fragment, query string,
    scheme, a leading ``www.``, default ports (``:80``/``:443``), and
    trailing slashes; lowercase the HOST only (paths are
    case-sensitive). Adds three columns:

    - ``canonical_col``: ``host/path`` in canonical form — the URL
      dedup key (five messy spellings of one page collapse to it);
    - ``domain_col``: the full lowercased host, any port stripped;
    - ``registered_col``: the registered domain — the mixing stratum.
      Hosts whose last two labels form a vendored two-level public
      suffix (``_psl.PUBLIC_SUFFIX_2LEVEL``, the ``co.uk``/``com.au``
      class from the PSL's ICANN section) take their last THREE labels
      (``news.x.co.uk`` → ``x.co.uk``); everything else takes the last
      two (``blog.x.org`` → ``x.org``); single-label hosts fall back
      to themselves. Deeper PSL rules (three-label suffixes,
      wildcards, private-section platform domains) are intentionally
      out of scope — see ``_psl``'s contract.

    Pure codegen'd regex projection (the ``strip_html`` discipline):
    zero shuffle at any corpus size, every pattern in the RE2 subset
    so DuckDB replicates it verbatim. Credentials (``user@host``) are
    intentionally NOT parsed — curation corpora shouldn't carry them.

    Ref: no reference analog (awswrangler has no URL surface); the
    normalization set is the standard web-pipeline one.
    """
    u = F.trim(F.col(url_col))
    u = F.regexp_replace(u, r"#.*", "")  # fragment
    u = F.regexp_replace(u, r"\?.*", "")  # query string
    u = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")  # scheme
    host = F.lower(F.regexp_extract(u, r"^([^/]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    rest = F.regexp_replace(F.regexp_replace(u, r"^[^/]*", ""), r"/+$", "")
    domain = F.regexp_replace(host, r":[0-9]+$", "")
    # three labels when the last two form a vendored public suffix
    # (ONE pattern string feeds both engines — _psl.PSL2_REGEX is
    # embedded verbatim in the oracle fragment), else two, else the
    # host itself
    from aws_data_wrangler_spark.operators._psl import PSL2_REGEX

    reg3 = F.regexp_extract(domain, PSL2_REGEX, 1)
    reg2 = F.regexp_extract(domain, r"([^.]+\.[^.]+)$", 1)
    return df.withColumns(
        {
            canonical_col: F.concat(host, rest),
            domain_col: domain,
            registered_col: F.when(reg3 != "", reg3).otherwise(
                F.when(reg2 == "", domain).otherwise(reg2)
            ),
        }
    )


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "redacted_text") -> DataFrame:
    """Redact emails / phone numbers / IP addresses and count each kind.

    Counts are measured on the *original* text (per pattern,
    non-overlapping leftmost matches); redaction applies the patterns
    in a fixed order so the output is deterministic. Pure codegen'd
    regex projection — at 100 TB this fuses into the scan with zero
    shuffle, which is why PII scrubbing belongs in the ingest map
    stage, not a separate pass.
    """
    text = F.col(text_col)
    counts = {
        f"n_{name}s": F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("bigint")
        for name, pat, _ in PII_PATTERNS
    }
    redacted = text
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    return df.withColumns({**counts, out_col: redacted})


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, rank, term, score).

    score = tf × N / df — the un-logged tf-idf variant: both factors
    are exact small integers in doubles, so one division produces a
    bit-identical score in every engine (``ln``-based idf is libm-
    dependent). Ties break by term ascending.

    Shape at scale: tf is a (doc, term) groupBy with map-side combine;
    df is a term-level agg of that (tiny — vocabulary-sized) joined
    back broadcast; the final top-k is a window keyed by doc. Two
    shuffles total, both on high-cardinality keys (no skew hot spot
    unless the vocabulary is degenerate — cap with a stopword filter
    upstream if so).
    """
    from pyspark.sql import Window

    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    terms = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), F.explode(tokens).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.filter(F.length(F.trim(F.col(text_col))) > 0).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(doc_freq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            trunc_digits(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df_t").cast("double")
            ).alias("score"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    )
    return (
        scored.withColumn("rank", rn.cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "score")
    )


def benchmark_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-train-document n-gram overlap with an evaluation set — the
    decontamination check run before any benchmark-adjacent training:
    (id, n_ngrams, n_contaminated, contamination_frac).

    The eval side collapses to a distinct-shingle set and is
    *broadcast* (benchmarks are MBs; the corpus is the 100 TB side), so
    the whole check is one map-side hash-probe over the train shingles
    — no shuffle of the corpus, no pair materialization.
    """
    from aws_data_wrangler_spark.operators.dedup import word_shingles

    train_sh = word_shingles(train, id_col, text_col, n)
    eval_sh = word_shingles(eval_set, id_col, text_col, n).select("shingle").distinct()
    hits = train_sh.join(
        F.broadcast(eval_sh.withColumn("__hit", F.lit(1))), "shingle", "left"
    )
    return (
        hits.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_contaminated",
            trunc_digits(
                F.col("n_contaminated").cast("double") / F.col("n_ngrams").cast("double")
            ).alias("contamination_frac"),
        )
    )


def benchmark_near_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 48,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_state=None,
) -> DataFrame:
    """Paraphrase-level decontamination: near-duplicate (train, eval)
    document pairs by MinHash-LSH candidates + exact-Jaccard verify —
    the fuzzy rung ABOVE ``benchmark_contamination``'s exact n-gram
    probe. An eval item lightly rewritten into the corpus (reordered
    sentences, a synonym swap) slips past exact 5-gram overlap but not
    past document-level shingle Jaccard; this is the check run when
    exact decontamination comes back clean but eval numbers still look
    suspicious. Returns (train_id, eval_id, jaccard ≥ threshold).

    Scale shape: the bipartite ``minhash_lsh_incremental`` machinery
    with the EVAL set as the batch side — candidates come from a
    (band, bucket) equi-join of the MB-sized eval banding against the
    corpus banding, so the 100 TB train side is never self-joined and
    train-internal duplicates never enter the pair space; exact-Jaccard
    verification touches candidate docs only (precision 1.0, recall =
    the banding curve at the threshold). Pass ``corpus_state`` (a
    ``dedup.minhash_corpus_state`` artifact — the same one the ingest
    dedup pipeline already maintains/persists) and the check touches
    the train TEXT zero times: each new benchmark decontaminates
    against two pre-mined parquet tables instead of re-shingling the
    corpus.

    Ref: complements `awswrangler`-era batch ETL with the
    eval-decontamination step LLM data pipelines require; exact-overlap
    twin at ``benchmark_contamination``.
    """
    from aws_data_wrangler_spark.operators.dedup import minhash_lsh_incremental

    pairs = minhash_lsh_incremental(
        eval_set,
        None if corpus_state is not None else train,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        corpus_state=corpus_state,
    )
    return pairs.select(
        F.col("corpus_id").alias("train_id"),
        F.col("new_id").alias("eval_id"),
        "jaccard",
    )


def remove_contaminated_spans(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Span-level decontamination REMOVAL — the excision rung the
    contamination ladder was missing (VERDICT r9 #2):
    ``benchmark_contamination`` FLAGS n-gram overlap and
    ``benchmark_near_contamination`` flags paraphrases, but the
    open-data pipelines' standard remedy is SURGICAL — cut the quoted
    benchmark item out of the page and keep the page (the way
    ``dedup.remove_duplicated_lines`` excises dup lines), not a
    whole-document drop. Every maximal run of train tokens covered by
    at least one eval-set word n-gram is removed.

    Adds four columns: ``out_col`` (the excised text),
    ``total_tokens`` (whitespace token count of the input),
    ``n_tokens_removed`` and ``n_spans_removed`` (maximal contiguous
    removed runs). Documents with NO contaminated span keep
    ``text_col`` BYTE-PRESERVED in ``out_col``; excised documents are
    rebuilt from their kept tokens joined by single spaces (the
    positioned-n-gram machinery works in normalized token space — the
    ``with_dup_ngram_fraction`` convention). A fully-contaminated
    document excises to the empty string — drop-or-keep policy stays
    with the caller (the FLAG-not-filter discipline).

    Scale shape: one positioned n-gram fan-out (map stage), the
    broadcast eval-set hash probe (``benchmark_contamination``'s join
    — benchmarks are MBs, the corpus is the 100 TB side, which never
    shuffles for the probe), ONE groupBy packing each contaminated
    doc's hit-start positions (hit lists are doc-bounded, never
    corpus-sized), one id-keyed join back, then a pure higher-order
    projection (filter/exists over the token array) rebuilds the text
    JVM-side — no Python anywhere in the row path. The exists probe is
    O(tokens × hits) per doc — quadratic only for a fully-contaminated
    doc, linear in the sparse regime decontamination actually runs in.
    """
    from aws_data_wrangler_spark.operators.dedup import word_shingles

    grams = _positioned_word_ngrams(train, n, text_col, id_col)
    eval_sh = (
        word_shingles(eval_set, id_col, text_col, n).select("shingle").distinct()
    )
    hits = (
        grams.join(F.broadcast(eval_sh), grams["gram"] == F.col("shingle"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__hits"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def covered(i):
        # token i lies inside some hit's [p, p + n - 1] window
        return F.exists(
            "__hits", lambda p: (i >= p) & (i <= p + F.lit(n - 1))
        )

    kept = F.filter(toks, lambda t, i: ~covered(i))
    idxs = F.sequence(F.lit(0), F.size(toks) - 1)
    span_starts = F.filter(
        idxs, lambda i: covered(i) & ((i == F.lit(0)) | ~covered(i - 1))
    )
    contaminated = F.col("__hits").isNotNull()
    total = _ws_token_count(F.col(text_col))
    return (
        train.join(hits, id_col, "left")
        .withColumns(
            {
                out_col: F.when(
                    contaminated, F.array_join(kept, " ")
                ).otherwise(F.col(text_col)),
                "total_tokens": total.cast("bigint"),
                "n_tokens_removed": F.when(
                    contaminated, total - F.size(kept)
                ).otherwise(F.lit(0)).cast("bigint"),
                "n_spans_removed": F.when(contaminated, F.size(span_starts))
                .otherwise(F.lit(0))
                .cast("bigint"),
            }
        )
        .drop("__hits")
    )


def _positioned_word_ngrams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, total_tokens, norm_chars, pos, tok_len, gram): sliding word
    n-grams with their 0-based start position, the length of the token
    AT that position (the increment a cumulative char-offset sum
    needs), and the per-doc normalized-text length (tokens joined by
    single spaces — computed once before the explode, carried through
    it). Same posexplode-over-sequence shape as ``chunk_tokens`` — a
    pure map-stage fan-out, no shuffle; unused columns prune away."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (
        df.where(_ws_token_count(F.col(text_col)) >= n)
        .select(F.col(id_col), toks.alias("_toks"), F.size(toks).alias("total_tokens"))
        .withColumn("norm_chars", F.length(F.array_join("_toks", " ")))
    )
    starts = F.sequence(F.lit(0), F.size("_toks") - F.lit(n))
    return base.select(
        F.col(id_col),
        F.col("total_tokens"),
        F.col("norm_chars"),
        F.posexplode(starts).alias("_i", "pos"),
        F.col("_toks"),
    ).select(
        F.col(id_col),
        F.col("total_tokens"),
        F.col("norm_chars"),
        F.col("pos"),
        F.length(F.element_at("_toks", F.col("pos") + 1)).alias("tok_len"),
        F.array_join(F.slice("_toks", F.col("pos") + 1, F.lit(n)), " ").alias("gram"),
    )


def with_top_ngram_coverage(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition rule (Rae et al. 2021 §A1.1, the n∈{2,3,4}
    family): per document, the fraction of characters contained in
    occurrences of its single most frequent word n-gram —
    ``count × chars(gram) / chars(normalized text)``, where the
    normalized text is the tokens joined by single spaces. Sliding
    occurrences may overlap, so pathological repetition can exceed
    1.0 — that is itself the signal; thresholds (Gopher uses 0.20 /
    0.18 / 0.16) compare on the raw value. Ties break to the
    lexicographically smallest gram, so the value is deterministic.

    Adds ``top_{n}gram_cov`` (0.0 for docs with fewer than ``n``
    tokens). Scale: one map-stage n-gram fan-out + two hash
    aggregations keyed on (id, gram) then id, then one join back —
    all map-side-combinable, nothing quadratic.
    """
    out_col = f"top_{n}gram_cov"
    grams = _positioned_word_ngrams(df, n, text_col, id_col)
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    rank_w = Window.partitionBy(id_col).orderBy(F.col("cnt").desc(), F.col("gram").asc())
    best = (
        per_gram.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(id_col),
            (F.col("cnt").cast("double") * F.length("gram").cast("double")).alias("_cov_chars"),
        )
    )
    norm_chars = F.length(F.concat_ws(" ", F.split(F.trim(F.col(text_col)), r"\s+")))
    return (
        df.join(best, on=id_col, how="left")
        .withColumn(
            out_col,
            trunc_digits(
                F.coalesce(F.col("_cov_chars") / norm_chars.cast("double"), F.lit(0.0))
            ),
        )
        .drop("_cov_chars")
    )


def with_dup_ngram_fraction(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition rule (Rae et al. 2021 §A1.1, the n∈{5..10}
    family): per document, the fraction of CHARACTERS lying inside any
    word n-gram that occurs more than once in the document — the
    paper's Table-A1 metric is a character fraction, matching
    ``with_top_ngram_coverage``'s denominator (tokens joined by single
    spaces). Overlapping duplicated spans are merged in character
    space so no character is counted twice (the within-doc analog of
    ``dedup.duplicated_spans``' interval merge); the single space
    BETWEEN two disjoint duplicated spans is not covered. Adds
    ``dup_{n}gram_frac`` in [0, 1] (0.0 for docs with fewer than ``n``
    tokens).

    Scale: map-stage n-gram fan-out → one (id, gram)-keyed count
    window to find duplicated grams, one id-keyed cumulative-sum
    window turning token positions into char offsets (positions are
    consecutive over gram rows, so the running sum of tok_len+1 IS the
    char offset), then the running-max interval-merge window — the
    last two share (id, pos) partitioning+ordering, so Catalyst plans
    one exchange+sort for both. Linear everywhere; window parallelism
    is the document count.
    """
    out_col = f"dup_{n}gram_frac"
    grams = _positioned_word_ngrams(df, n, text_col, id_col)
    dup_w = Window.partitionBy(id_col, "gram")
    cum_w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # char offset of token `pos` in the normalized text: every earlier
    # token contributes its length plus one joining space
    char_start = F.coalesce(F.sum(F.col("tok_len") + F.lit(1)).over(cum_w), F.lit(0))
    dup_positions = (
        grams.withColumn("_gram_cnt", F.count("*").over(dup_w))
        .withColumn("_cs", char_start)
        .filter(F.col("_gram_cnt") >= 2)
        .select(
            id_col,
            "norm_chars",
            "pos",
            F.col("_cs").alias("cs"),
            (F.col("_cs") + F.length("gram") - F.lit(1)).alias("ce"),
        )
    )
    merge_w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_end = F.max("ce").over(merge_w)
    newly_covered = F.greatest(
        F.lit(0),
        F.col("ce") - F.greatest(F.col("cs") - 1, F.coalesce(prev_max_end, F.lit(-1))),
    )
    covered = (
        dup_positions.withColumn("_new", newly_covered)
        .groupBy(id_col, "norm_chars")
        .agg(F.sum("_new").alias("_covered"))
        .select(
            F.col(id_col),
            trunc_digits(
                F.col("_covered").cast("double") / F.col("norm_chars").cast("double")
            ).alias(out_col),
        )
    )
    return df.join(covered, on=id_col, how="left").fillna({out_col: 0.0})


# Gopher §A1.1 repetition thresholds (Rae et al. 2021, Table A1):
# a document is removed when any fraction EXCEEDS its threshold
GOPHER_TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def with_gopher_repetition_gate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The full Gopher §A1.1 repetition gate: all nine rule columns
    (``top_{2,3,4}gram_cov``, ``dup_{5..10}gram_frac``) at the paper's
    thresholds, plus a composite ``gopher_repetition_keep`` flag — a
    FLAG, not a filter, like ``with_gopher_flags``, so pipelines audit
    before they drop.

    Cost note: each n runs its own n-gram fan-out and id-keyed
    window — nine linear passes over the token stream. That is the
    honest cost of the full rule set; pipelines filtering on a subset
    should call the individual functions. At 100 TB each pass is a
    map-stage explode plus document-keyed aggregation — no pass is
    super-linear, and the passes share the scan via Spark's plan reuse
    when materialized together.
    """
    out = df
    keep = F.lit(True)
    for n, thresh in sorted(GOPHER_TOP_NGRAM_THRESHOLDS.items()):
        out = with_top_ngram_coverage(out, n=n, text_col=text_col, id_col=id_col)
        keep = keep & (F.col(f"top_{n}gram_cov") <= F.lit(thresh))
    for n, thresh in sorted(GOPHER_DUP_NGRAM_THRESHOLDS.items()):
        out = with_dup_ngram_fraction(out, n=n, text_col=text_col, id_col=id_col)
        keep = keep & (F.col(f"dup_{n}gram_frac") <= F.lit(thresh))
    return out.withColumn("gopher_repetition_keep", keep)


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition quality signals (Gopher-style): the fraction of
    duplicated words and duplicated word-bigrams per document. High
    values flag boilerplate/spam for corpus filtering.

    Codegen-only array ops (no shuffle, no UDF); floor-truncated at
    6 dp so the DuckDB oracle matches bit-for-bit.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    dup_word = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    dup_bigram = F.when(n > 1,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))
    return df.withColumns(
        {
            "dup_word_frac": trunc_digits(dup_word, 6),
            "dup_bigram_frac": trunc_digits(dup_bigram, 6),
        }
    )


# C4 (Raffel et al. 2020 §2.2) line-level cleaning heuristics: the
# third classic filter family next to the Gopher gates and the
# quality classifier. A "sentence" is approximated as a terminal-
# punctuation occurrence (the paper uses a sentence tokenizer; the
# count only gates the >= min_sentences rule, where the
# approximation is faithful for prose).
C4_TERMINAL_PUNCT_RE = r"""[.!?]["')\]]?\s*$"""


def with_c4_flags(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    min_words: int = 3,
    min_sentences: int = 5,
    line_blocklist: Sequence[str] = ("javascript",),
    page_blocklist: Sequence[str] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style cleaning: per LINE, keep only lines that end in
    terminal punctuation, carry at least ``min_words`` words, and
    contain no ``line_blocklist`` term (case-insensitive); per PAGE,
    flag documents with fewer than ``min_sentences`` sentences in the
    cleaned text or any ``page_blocklist`` term anywhere in the
    original. Adds ``clean_text`` (kept lines joined by newline),
    ``c4_n_lines``, ``c4_n_kept_lines``, ``c4_n_sentences``, and the
    composite ``c4_keep`` FLAG — audit-before-filter, like the Gopher
    gates.

    Scale shape: a pure map-stage projection — the line filter is an
    array higher-order function, which costs whole-stage-codegen
    fallback (SURVEY §6) but ZERO shuffle; the alternative
    (explode → filter → per-doc reassembly groupBy) shuffles the
    corpus, which loses at 100 TB. Everything else is codegen regex.

    Ref: C4 construction rules (Raffel et al. 2020 §2.2); the
    reference library has no text-cleaning surface.
    """
    lines = F.split(F.col(text_col), r"\n")

    def _keep_line(l):  # noqa: E741 - mirrors the lambda variable
        word_ok = F.size(F.split(F.trim(l), r"\s+")) >= min_words
        punct_ok = l.rlike(C4_TERMINAL_PUNCT_RE)
        block_ok = F.lit(True)
        for term in line_blocklist:
            block_ok = block_ok & ~F.lower(l).contains(term.lower())
        return punct_ok & word_ok & block_ok

    kept = F.filter(lines, _keep_line)
    clean = F.array_join(kept, "\n")
    page_ok = F.lit(True)
    for term in page_blocklist:
        page_ok = page_ok & ~F.lower(F.col(text_col)).contains(term.lower())
    n_sentences = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    return df.withColumns(
        {
            out_col: clean,
            "c4_n_lines": F.size(lines).cast("bigint"),
            "c4_n_kept_lines": F.size(kept).cast("bigint"),
            "c4_n_sentences": n_sentences.cast("bigint"),
            "c4_keep": (n_sentences >= F.lit(min_sentences)) & page_ok,
        }
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    splits: Tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus-trained unigram LM surprisal, then
    split EACH LANGUAGE's score distribution at the ``splits``
    quantiles into ``head`` / ``middle`` / ``tail`` — head = lowest
    surprisal (most fluent); CCNet trains on head+middle. Emits the
    label instead of filtering (audit-first, like the gate
    operators): (id, lang, n_toks, avg_surprisal, ppl_bucket).

    A document AT a boundary lands in the lower bucket (strict ``>``,
    the ``orders_value_deciles`` tie rule). ``lang_col=None`` buckets
    one global distribution.

    Scale shape: surprisal is the ``unigram_surprisal`` plan (one
    vocabulary aggregate broadcast back over the token stream); the
    boundaries are ONE language-cardinality percentile aggregate
    joined back broadcast — the exact-percentile-boundaries
    construction of ``orders_value_deciles``, no global window, no
    single-partition stage anywhere.
    """
    lo, hi = float(splits[0]), float(splits[1])
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"splits must satisfy 0 < lo < hi < 1, got {splits}")
    scored = unigram_surprisal(df, id_col, text_col)
    pct = F.expr(f"percentile(avg_surprisal, array({lo!r}, {hi!r}))").alias("__bs")
    if lang_col is not None:
        scored = scored.join(df.select(id_col, lang_col), id_col)
        bounds = scored.groupBy(lang_col).agg(pct)
        joined = scored.join(F.broadcast(bounds), lang_col)
        keys = [id_col, lang_col]
    else:
        bounds = scored.agg(pct)
        joined = scored.crossJoin(F.broadcast(bounds))
        keys = [id_col]
    bucket = (
        F.when(F.col("avg_surprisal") > F.element_at("__bs", 2), F.lit("tail"))
        .when(F.col("avg_surprisal") > F.element_at("__bs", 1), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return joined.select(*keys, "n_toks", "avg_surprisal", bucket.alias("ppl_bucket"))
