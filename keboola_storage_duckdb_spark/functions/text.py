"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All JVM-side expressions (split/regexp/md5/length) — no UDFs — so they run
inside whole-stage codegen and each has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-language stopword profiles (classic high-frequency function words —
# public-knowledge lists). ASCII-folded forms included alongside accented
# ones so ASCII-normalized corpora still hit. Order within a list is
# irrelevant (occurrence counts are summed); languages are matched by
# argmax with (hits desc, lang asc) tie-break.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
           "with", "that", "this", "it", "as", "are", "was", "be", "by",
           "at", "from", "or", "not", "but", "have", "they", "you"],
    "es": ["el", "la", "los", "las", "de", "del", "y", "a", "en", "es",
           "por", "con", "para", "un", "una", "que", "no", "se", "su",
           "al", "lo", "como", "mas", "más", "pero", "sus", "le"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "auf", "fur",
           "für", "mit", "den", "von", "nicht", "ein", "eine", "im",
           "dem", "sich", "des", "auch", "es", "an", "werden", "aus"],
    "fr": ["le", "la", "les", "de", "des", "et", "a", "à", "en", "est",
           "sur", "pour", "avec", "un", "une", "du", "que", "qui", "dans",
           "ne", "pas", "se", "au", "ce", "il", "plus", "par"],
    "it": ["il", "lo", "la", "gli", "di", "che", "e", "è", "un", "una",
           "per", "con", "non", "del", "della", "sono", "da", "si", "come",
           "anche", "al", "nel", "più", "piu"],
    "pt": ["o", "os", "as", "de", "do", "da", "e", "que", "em", "um",
           "uma", "para", "com", "nao", "não", "por", "se", "dos", "das",
           "ao", "mais", "como", "mas", "foi"],
    "nl": ["de", "het", "een", "van", "en", "in", "is", "dat", "op",
           "te", "zijn", "met", "voor", "niet", "aan", "er", "maar",
           "ook", "als", "bij", "dan", "uit"],
    "id": ["yang", "dan", "di", "ini", "itu", "dengan", "untuk", "tidak",
           "dari", "dalam", "akan", "pada", "juga", "ke", "karena",
           "ada", "mereka", "sudah", "saya", "kita"],
}

# BPE-ish pre-tokenizer: word pieces or single non-space punctuation.
BPE_REGEX = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + char count."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), F.lit(0)))
         .alias("bpe_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def token_length_profile(df: DataFrame, text_col: str, group_col: str,
                         lo: float = 0.0, hi: float = 100.0,
                         bins: int = 10) -> DataFrame:
    """Per-source sequence-length distribution: equal-width histogram of
    whitespace token counts per ``group_col`` (lang / source / shard) plus
    the token mass per bin — the first thing a packing/training setup
    checks (context-length fit, truncation exposure, per-source length
    skew). Out-of-range lengths CLAMP into the edge bins (a profile must
    not drop documents; the declared-bounds ``histogram`` operator filters
    instead — different contract, same bin rule).

    Returns (group_col, bucket, lo, hi, n_docs, n_tokens), one shuffle on
    (group, bucket) with map-side partials — the grouped-histogram shape
    that holds at any corpus size."""
    w = (hi - lo) / bins
    n = F.size(F.split(F.col(text_col), " "))
    bucket = (F.least(F.greatest(F.floor((n - F.lit(lo)) / F.lit(w)),
                                 F.lit(0)),
                      F.lit(bins - 1)).cast("int"))
    return (df.select(F.col(group_col), n.alias("n"),
                      bucket.alias("bucket"))
              .groupBy(group_col, "bucket")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("n").cast("bigint").alias("n_tokens"))
              .withColumn("lo", F.lit(lo) + F.col("bucket") * F.lit(w))
              .withColumn("hi", F.lit(lo) + (F.col("bucket") + 1) * F.lit(w))
              .select(group_col, "bucket", "lo", "hi",
                      "n_docs", "n_tokens"))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_size: int = 32, stride: int = 24) -> DataFrame:
    """Fixed-size overlapping token-window chunks — the standard shape a
    training pipeline feeds a tokenizer (context windows with overlap so no
    boundary is lost). Tokens come from the BPE-ish pre-tokenizer regex;
    chunk i covers tokens [i*stride, i*stride+chunk_size); the last chunk
    may be short; empty docs produce no chunks.

    Scale: tokenize → ``sequence``/``explode`` over chunk starts →
    ``slice`` — a narrow per-row map with no shuffle, output ~n/stride
    rows per doc. At 100 TB this is embarrassingly parallel and the output
    partitioning inherits the scan's (repartition downstream if chunks
    feed a shuffle-heavy stage).
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), F.lit(0))
    # last chunk start index = ceil(max(n - size, 0) / stride), integer math
    last = F.floor((F.greatest(F.col("n_tok") - chunk_size, F.lit(0))
                    + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    base = (df
            .select(F.col(id_col).alias("doc_id"), toks.alias("toks"),
                    F.size(toks).alias("n_tok"))
            .where(F.col("n_tok") > 0)
            .select("doc_id", "toks",
                    F.explode(F.sequence(F.lit(0), last)).alias("chunk_idx")))
    return base.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(F.slice(F.col("toks"),
                             F.col("chunk_idx") * stride + 1, chunk_size),
                     " ").alias("chunk_text"),
        F.size(F.slice(F.col("toks"),
                       F.col("chunk_idx") * stride + 1, chunk_size))
         .cast("int").alias("n_tokens"))


CHUNK_SQL_TEMPLATE = r"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         regexp_extract_all({text_col}, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]') AS t
  FROM {table}
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), expanded AS (
  SELECT doc_id, t,
         CAST(unnest(range(0, (GREATEST(n - {chunk_size}, 0) + {stride} - 1) // {stride} + 1)) AS INTEGER) AS chunk_idx
  FROM sized
)
SELECT doc_id, chunk_idx,
       array_to_string(t[chunk_idx*{stride}+1 : chunk_idx*{stride}+{chunk_size}], ' ') AS chunk_text,
       CAST(len(t[chunk_idx*{stride}+1 : chunk_idx*{stride}+{chunk_size}]) AS INTEGER) AS n_tokens
FROM expanded
"""


# The 8 high-frequency English function words the Gopher rules check for
# (Rae et al. 2021, "Scaling Language Models" §A1.1 — public knowledge).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(docs: DataFrame, id_col: str, text_col: str,
                   min_words: int = 50, max_words: int = 100_000) -> DataFrame:
    """Gopher-style rule-based quality filter. Per doc, the five surface
    rules as booleans plus the conjunction ``keep``:

      * word count within [min_words, max_words]
      * mean word length within [3, 10] chars
      * symbol-to-word ratio ('#' or '...') ≤ 0.1
      * ≥ 80% of words contain an alphabetic character
      * ≥ 2 of the 8 Gopher stopwords occur

    All thresholds are evaluated in INTEGER arithmetic (3·n ≤ Σlen ≤ 10·n,
    10·sym ≤ n, 5·alpha ≥ 4·n) so the oracle is bit-exact — no ratios, no
    libm. A narrow whole-stage-codegen map: no shuffle, no UDF.

    NULL text normalizes to '' on BOTH engines (like repetition_signals
    and language_id): without it Spark's non-ANSI size(split(NULL)) = -1
    diverges from DuckDB's len(NULL) = NULL in every rule."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(txt, " ")
    low = F.split(F.lower(txt), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_words"),
        F.aggregate(F.transform(toks, lambda w: F.length(w)),
                    F.lit(0), lambda acc, x: acc + x).alias("sum_len"),
        (F.size(F.regexp_extract_all(txt, F.lit(r"#"), F.lit(0)))
         + F.size(F.regexp_extract_all(txt, F.lit(r"\.\.\."),
                                       F.lit(0)))).alias("n_sym"),
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
         .alias("n_alpha"),
        F.size(F.filter(low, lambda w: w.isin(GOPHER_STOPWORDS)))
         .alias("n_stop"))
    rules = base.select(
        "doc_id", "n_words",
        F.col("n_words").between(min_words, max_words).alias("ok_count"),
        ((F.col("sum_len") >= 3 * F.col("n_words"))
         & (F.col("sum_len") <= 10 * F.col("n_words"))).alias("ok_mean_len"),
        (10 * F.col("n_sym") <= F.col("n_words")).alias("ok_symbol"),
        (5 * F.col("n_alpha") >= 4 * F.col("n_words")).alias("ok_alpha"),
        (F.col("n_stop") >= 2).alias("ok_stop"))
    return rules.withColumn(
        "keep", F.col("ok_count") & F.col("ok_mean_len") & F.col("ok_symbol")
                & F.col("ok_alpha") & F.col("ok_stop"))


GOPHER_SQL_TEMPLATE = r"""
WITH src AS (
  SELECT {id_col} AS _id, COALESCE({text_col}, '') AS _txt FROM {table}
), base AS (
  SELECT _id AS doc_id,
         len(str_split(_txt, ' ')) AS n_words,
         list_sum(list_transform(str_split(_txt, ' '), w -> length(w))) AS sum_len,
         len(regexp_extract_all(_txt, '#'))
           + len(regexp_extract_all(_txt, '\.\.\.')) AS n_sym,
         len(list_filter(str_split(_txt, ' '),
                         w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(str_split(lower(_txt), ' '),
                         w -> w IN ({stopwords}))) AS n_stop
  FROM src
), rules AS (
  SELECT doc_id, n_words,
         n_words BETWEEN {min_words} AND {max_words} AS ok_count,
         sum_len >= 3 * n_words AND sum_len <= 10 * n_words AS ok_mean_len,
         10 * n_sym <= n_words AS ok_symbol,
         5 * n_alpha >= 4 * n_words AS ok_alpha,
         n_stop >= 2 AS ok_stop
  FROM base
)
SELECT doc_id, n_words, ok_count, ok_mean_len, ok_symbol, ok_alpha, ok_stop,
       ok_count AND ok_mean_len AND ok_symbol AND ok_alpha AND ok_stop AS keep
FROM rules
"""


# PII patterns chosen for identical semantics under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repeats, \b, alternation only.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{7,15}|\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b"


def pii_redact(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers, with per-type counts.
    Replacement order matters (email before phone so the digits in a
    local-part are not re-matched); both engines apply the same order.
    Narrow map over the corpus — no shuffle, no UDF."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "[EMAIL]"),
            PII_IP, "[IP]"),
        PII_PHONE, "[PHONE]")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
         .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IP), F.lit(0)))
         .alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0)))
         .alias("n_phones"),
        redacted.alias("redacted"))


PII_SQL_TEMPLATE = r"""
SELECT {id_col} AS doc_id,
       len(regexp_extract_all({text_col}, '{email}')) AS n_emails,
       len(regexp_extract_all({text_col}, '{ip}')) AS n_ips,
       len(regexp_extract_all({text_col}, '{phone}')) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace({text_col},
           '{email}', '[EMAIL]', 'g'),
           '{ip}', '[IP]', 'g'),
           '{phone}', '[PHONE]', 'g') AS redacted
FROM {table}
"""


def language_id(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-profile language ID, fully per-row: per language,
    hits = occurrence count of that language's stopwords in the lowercased
    token stream (``size(filter(tokens, …))``), then a scalar argmax with
    deterministic tie-break (hits desc, lang asc). Zero hits → 'und'.

    Scale: no explode, no join, no shuffle — a narrow map over the corpus
    that whole-stage-codegens; the lexicon is inlined as literal arrays.
    (An earlier explode+broadcast-join+window formulation shuffled the full
    token stream; this one is embarrassingly parallel.)"""
    langs = sorted(STOPWORDS)  # tie-break order = alphabetical

    def _hits(ws):
        # NB: F.filter dispatches on lambda arity — a second (default) arg
        # would be bound to the element *index* column.
        return lambda x: x.isin(ws)

    toks = F.split(F.lower(F.col(text_col)), " ")
    # NULL text must yield ('und', 0) — guard explicitly: with ANSI off,
    # size(NULL) is -1 (not NULL), so a coalesce would never fire
    base = docs.select(
        F.col(id_col).alias("id"),
        *[F.when(F.col(text_col).isNull(), F.lit(0))
           .otherwise(F.size(F.filter(toks, _hits(STOPWORDS[lg]))))
           .alias(f"h_{lg}") for lg in langs])
    hcols = [F.col(f"h_{lg}") for lg in langs]
    best = F.greatest(*hcols)
    # first lang (alphabetically) reaching the max ← `>=` cascade
    pred = F.lit(langs[-1])
    for lg in reversed(langs[:-1]):
        later = [F.col(f"h_{l2}") for l2 in langs if l2 > lg]
        cond = F.col(f"h_{lg}") >= later[0]
        for c in later[1:]:
            cond = cond & (F.col(f"h_{lg}") >= c)
        pred = F.when(cond, F.lit(lg)).otherwise(pred)
    return base.select(
        "id",
        F.when(best == 0, F.lit("und")).otherwise(pred).alias("pred_lang"),
        best.cast("bigint").alias("hits"))


def quality_score(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,100] from cheap surface features:
    length saturation, type-token ratio, mean token length. All-integer
    feature counts → deterministic double arithmetic (oracle-exact)."""
    t = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(t).alias("n_tok"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.length(text_col).alias("n_chars"),
    )
    n_tok = F.col("n_tok").cast("double")
    ttr = F.col("n_distinct") / n_tok
    # mean token length: chars minus separators, over token count
    mean_len = (F.col("n_chars") - (F.col("n_tok") - 1)) / n_tok
    score = (F.least(n_tok / 100.0, F.lit(1.0)) * 30.0
             + ttr * 40.0
             + F.least(mean_len / 8.0, F.lit(1.0)) * 30.0)
    return base.select("id", "n_tok", "n_distinct", "n_chars",
                       F.round(score, 6).alias("quality"))


QUALITY_SQL_TEMPLATE = """
SELECT id, n_tok, n_distinct, n_chars,
       ROUND(LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 30.0
             + (n_distinct / CAST(n_tok AS DOUBLE)) * 40.0
             + LEAST(((n_chars - (n_tok - 1)) / CAST(n_tok AS DOUBLE)) / 8.0, 1.0) * 30.0,
             6) AS quality
FROM (
  SELECT {id_col} AS id,
         len(str_split({text_col}, ' ')) AS n_tok,
         len(list_distinct(str_split({text_col}, ' '))) AS n_distinct,
         length({text_col}) AS n_chars
  FROM {table}
)
"""


def fingerprint(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized content fingerprint: lowercase, strip non-alphanumerics
    (keeping spaces), collapse whitespace, trim, md5. Exact-dup detection
    robust to case/punct/spacing noise."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
        " +", " "))
    return docs.select(F.col(id_col).alias("id"), F.md5(norm).alias("fp"))


FINGERPRINT_SQL_TEMPLATE = """
SELECT {id_col} AS id,
       md5(trim(regexp_replace(regexp_replace(lower({text_col}), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
FROM {table}
"""


def repetition_signals(docs: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """Gopher/FineWeb REPETITION filters (the sixth Gopher rule family,
    complementing :func:`gopher_quality`'s surface rules): per document,

      * duplicate-LINE signals — occurrences and characters inside lines
        whose text appears more than once in the document;
      * top word-BIGRAM signal — characters covered by the most frequent
        word 2-gram (ties broken by the lexicographically smallest
        bigram, pinned on both engines).

    Emits raw integer counts plus the keep-rules in INTEGER arithmetic
    (dup-line occurrences ≤ 30%: ``10·dup ≤ 3·n``; dup-line chars ≤ 20%
    and top-bigram chars ≤ 20%: ``5·part ≤ whole``) so the DuckDB oracle
    is bit-exact — no ratios, no libm.

    Plan shape: explode → groupBy (doc, line) / (doc, bigram) with
    map-side partial aggregation, re-aggregate per doc, broadcast-free
    shuffle keyed by document — the scalable form (per-doc array
    nested-loop counting would be O(len²) for long documents).
    """
    lines = (docs.select(F.col(id_col).alias("doc_id"),
                         F.explode(F.split(F.coalesce(F.col(text_col),
                                                      F.lit("")), "\n"))
                          .alias("line")))
    lc = (lines.groupBy("doc_id", "line")
               .agg(F.count(F.lit(1)).alias("c"))
               .withColumn("l", F.length("line")))
    lsig = (lc.groupBy("doc_id")
              .agg(F.sum("c").alias("n_lines"),
                   F.sum(F.when(F.col("c") > 1, F.col("c"))
                          .otherwise(F.lit(0))).alias("dup_line_occurrences"),
                   F.sum(F.col("c") * F.col("l")).alias("line_chars"),
                   F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("l"))
                          .otherwise(F.lit(0))).alias("dup_line_chars")))

    # materialize the words array ONCE before the lambda — referencing
    # split() inside the transform re-tokenizes the document per bigram
    # (no CSE inside higher-order lambdas; 2.6× slower, A/B'd at sf0.1)
    words = docs.select(F.col(id_col).alias("doc_id"),
                        F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
                         .alias("w"))
    bigrams = (words.select(
        "doc_id",
        F.explode(F.when(F.size("w") >= 2, F.expr(
            "transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
                  .otherwise(F.array().cast("array<string>"))).alias("bg")))
    bc = (bigrams.groupBy("doc_id", "bg")
                 .agg(F.count(F.lit(1)).alias("c")))
    # deterministic top bigram — max count, ties to the MIN bigram — as
    # ONE aggregation: min of the struct (-count, bigram) orders by count
    # descending then bigram ascending (a self-join against the per-doc
    # max was 2 extra shuffles of the (doc, bigram) frame)
    top = (bc.groupBy("doc_id")
             .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                 F.col("bg").alias("bg"))).alias("t"))
             .select("doc_id", F.col("t.bg").alias("top_bigram"),
                     (-F.col("t.nc")).alias("top_bigram_count")))
    top = top.withColumn(
        "top_bigram_chars",
        F.col("top_bigram_count") * F.length("top_bigram"))

    out = (lsig.join(top, "doc_id", "left")
               .na.fill({"top_bigram_count": 0, "top_bigram_chars": 0}))
    return out.select(
        "doc_id", "n_lines", "dup_line_occurrences", "line_chars",
        "dup_line_chars", "top_bigram", "top_bigram_count",
        "top_bigram_chars",
        (10 * F.col("dup_line_occurrences") <= 3 * F.col("n_lines"))
        .alias("ok_dup_lines"),
        (5 * F.col("dup_line_chars") <= F.col("line_chars"))
        .alias("ok_dup_line_chars"),
        (5 * F.col("top_bigram_chars") <= F.col("line_chars"))
        .alias("ok_top_bigram"))


# the filter stack's rule book: (reason label, rule column) in REPORT ORDER
QUALITY_RULES = [
    ("word_count", "ok_count"),
    ("mean_word_length", "ok_mean_len"),
    ("symbol_ratio", "ok_symbol"),
    ("alpha_words", "ok_alpha"),
    ("stopwords", "ok_stop"),
    ("dup_lines", "ok_dup_lines"),
    ("dup_line_chars", "ok_dup_line_chars"),
    ("top_bigram_cover", "ok_top_bigram"),
    ("language_known", "ok_lang"),
]


def quality_verdict(docs: DataFrame, id_col: str, text_col: str,
                    min_words: int = 50,
                    max_words: int = 100_000) -> DataFrame:
    """The COMPOSED filter stack — the pipeline stage a corpus actually
    runs: Gopher surface rules (:func:`gopher_quality`) + repetition
    rules (:func:`repetition_signals`) + language ID
    (:func:`language_id`) folded into one verdict per document with the
    failed-rule names logged (what every production filter emits so
    drops are auditable). Returns
    ``(doc_id, lang, keep, reasons: array<string>)``; ``reasons`` lists
    failed rules in the fixed :data:`QUALITY_RULES` order.

    Scale: three narrow map-side rule frames (only repetition_signals
    shuffles, by doc line/bigram) joined 1:1 on doc id — the verdict
    adds two hash joins and zero new scans of raw text beyond its
    components. NULL-rule semantics: a NULL rule never lists a reason
    (three-valued logic matches DuckDB) and ``keep`` coalesces to
    False."""
    import functools
    import operator as _op

    g = gopher_quality(docs, id_col, text_col, min_words, max_words) \
        .select("doc_id", "ok_count", "ok_mean_len", "ok_symbol",
                "ok_alpha", "ok_stop")
    r = repetition_signals(docs, id_col, text_col) \
        .select("doc_id", "ok_dup_lines", "ok_dup_line_chars",
                "ok_top_bigram")
    lang = language_id(docs, id_col, text_col) \
        .select(F.col("id").alias("doc_id"),
                F.col("pred_lang").alias("lang"))
    j = (g.join(r, "doc_id").join(lang, "doc_id")
          .withColumn("ok_lang", F.col("lang") != "und"))
    keep = functools.reduce(
        _op.and_, [F.col(c) for _, c in QUALITY_RULES])
    reasons = F.array_compact(F.array(
        *[F.when(~F.col(c), F.lit(nm)) for nm, c in QUALITY_RULES]))
    return j.select("doc_id", "lang",
                    F.coalesce(keep, F.lit(False)).alias("keep"),
                    reasons.alias("reasons"))


# shared by the Spark op and its DuckDB twin: RE2- and Java-identical
# classes (two-digit \xNN and \x{FFFD} parse the same in both engines)
ENCODING_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
ENCODING_REPLACEMENT_RE = r"\x{FFFD}"
ENCODING_NON_ASCII_RE = r"[^\x00-\x7f]"


def encoding_quality(docs: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """Mojibake / encoding-damage filter (the C4 cleanup rule: drop
    pages containing U+FFFD replacement characters — the tombstone a
    lossy decode leaves — or raw control bytes; cap the non-ASCII
    ratio so binary-ish content masquerading as text is caught).

    All counts come from ``length(text) - length(regexp_replace(...))``
    — a narrow per-row map, no shuffle, no UDF — and the keep rule is
    ALL-INTEGER (``2·n_non_ascii <= n_chars`` instead of a float ratio)
    so the DuckDB twin is bit-exact (both engines' length() and regex
    iterate CODE POINTS — verified on supplementary-plane input: an
    emoji counts 1 on both sides).

    Returns ``(doc_id, n_chars, n_replacement, n_control, n_non_ascii,
    keep)``.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))

    def count_of(pattern: str) -> F.Column:
        return (F.length(t) - F.length(F.regexp_replace(t, pattern, ""))) \
            .cast("long")

    n_chars = F.length(t).cast("long")
    n_repl = count_of(ENCODING_REPLACEMENT_RE)
    n_ctrl = count_of(ENCODING_CONTROL_RE)
    n_na = count_of(ENCODING_NON_ASCII_RE)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_na.alias("n_non_ascii"),
        ((n_repl == 0) & (n_ctrl == 0)
         & (F.lit(2) * n_na <= n_chars)).alias("keep"))


ENCODING_QUALITY_SQL_TEMPLATE = """
SELECT {id_col} AS doc_id,
       CAST(length(t) AS BIGINT) AS n_chars,
       CAST(length(t) - length(regexp_replace(t, '\\x{{FFFD}}', '', 'g'))
            AS BIGINT) AS n_replacement,
       CAST(length(t) - length(regexp_replace(t,
            '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'))
            AS BIGINT) AS n_control,
       CAST(length(t) - length(regexp_replace(t, '[^\\x00-\\x7f]', '', 'g'))
            AS BIGINT) AS n_non_ascii,
       (length(t) - length(regexp_replace(t, '\\x{{FFFD}}', '', 'g')) = 0
        AND length(t) - length(regexp_replace(t,
             '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')) = 0
        AND 2 * (length(t) - length(regexp_replace(t, '[^\\x00-\\x7f]',
             '', 'g'))) <= length(t)) AS keep
FROM (SELECT {id_col}, COALESCE({text_col}, '') AS t FROM {table})"""
