"""Text-analysis operators over a ``documents(doc_id, text, ...)`` table:
token counting, quality scoring, language-ID heuristic, fingerprints.

Every operator here is expressed with built-in ``pyspark.sql.functions``
(JVM-side, whole-stage codegen — no Python in the hot path) and has an
ANSI-SQL twin for the DuckDB oracle. Parity rules:

- tokens  := regexp-split of ``trim(text)`` on ``\\s+``; empty text → 0
- ratios  := single division of exact integer counts (deterministic)
- no float summation in SQL-checked outputs (order-dependent)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed stopword list for quality scoring (frozen; SQL twin is generated
#: from this same constant)
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "this", "be", "are", "was", "at",
]

#: marker words for the n-gram/marker language-ID heuristic. The langs
#: and tie-break order are fixed: en > de > fr > es.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans"],
    "es": ["el", "la", "los", "las", "es", "que", "por", "para"],
}

_TOKENS = "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END"


def _tokens_col():
    """Spark tokens column matching the SQL twin's semantics."""
    return F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))


def token_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) — whitespace token count."""
    return documents.select(
        "doc_id",
        F.size(_tokens_col()).cast("long").alias("n_tokens"),
    )


def token_counts_sql() -> str:
    return f"""
        SELECT doc_id, len({_TOKENS})::BIGINT AS n_tokens
        FROM documents
    """


#: BPE-ish pre-tokenizer regex (GPT-2 family): contractions, space-glued
#: letter runs, digit runs, symbol runs, whitespace runs. Restricted to
#: constructs Java regex (Spark) and RE2 (DuckDB) evaluate identically —
#: no lookaheads (RE2 has none), ASCII classes (Java \s is ASCII, RE2 \s
#: is ASCII), and alternation order matters the same way in both
#: (leftmost-first).
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_counts_bpe(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_bpe) — whitespace count next to a
    BPE-ish pre-tokenizer count (pure-whitespace matches excluded): the
    unit LLM-pipeline budgets are written in. JVM-side regexp, map-only."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return documents.select(
        "doc_id",
        F.size(_tokens_col()).cast("long").alias("n_tokens_ws"),
        # pure-whitespace matches are excluded by regex, NOT trim():
        # trim strips only ' ' in both engines, so '\n' would survive it
        F.size(
            F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))
        ).cast("long").alias("n_tokens_bpe"),
    )


def token_counts_bpe_sql() -> str:
    pat = BPE_PATTERN.replace("'", "''")
    return f"""
        SELECT doc_id,
               len({_TOKENS})::BIGINT AS n_tokens_ws,
               len(list_filter(regexp_extract_all(text, '{pat}'),
                               x -> NOT regexp_matches(x, '^\\s+$')))::BIGINT
                 AS n_tokens_bpe
        FROM documents
    """


def doc_quality(documents: DataFrame) -> DataFrame:
    """Per-doc quality features: token count, char count, mean token
    length, stopword hits/ratio, punctuation-ish char count.

    All ratios are single divisions of exact integers.
    """
    toks = _tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("long")
    n_punct = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", ""))
    ).cast("long")
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        sum_tok_len.alias("sum_token_len"),
        F.when(n_tokens > 0, sum_tok_len / n_tokens)
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("avg_token_len"),
        stop_hits.alias("stop_hits"),
        F.when(n_tokens > 0, stop_hits / n_tokens)
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("stop_ratio"),
        n_punct.alias("n_punct"),
    )


def doc_quality_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
        WITH t AS (SELECT doc_id, text, {_TOKENS} AS toks FROM documents)
        SELECT
          doc_id,
          len(toks)::BIGINT AS n_tokens,
          length(text)::BIGINT AS n_chars_calc,
          coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT
            AS sum_token_len,
          CASE WHEN len(toks) > 0 THEN
            coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
              / len(toks) ELSE 0.0 END AS avg_token_len,
          len(list_filter(toks, x -> list_contains([{stop_list}], x)))::BIGINT
            AS stop_hits,
          CASE WHEN len(toks) > 0 THEN
            len(list_filter(toks, x -> list_contains([{stop_list}], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS stop_ratio,
          (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT
            AS n_punct
        FROM t
    """


def lang_profile(documents: DataFrame) -> DataFrame:
    """Per-language corpus profile (integer-exact aggregates)."""
    return (
        documents.select("lang", "n_chars", F.size(_tokens_col()).alias("ntok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("ntok").cast("long").alias("sum_tokens"),
        )
        .withColumn(
            "avg_chars",
            (F.col("sum_chars").cast("double") / F.col("n_docs")).alias(
                "avg_chars"
            ),
        )
    )


def lang_profile_sql() -> str:
    return f"""
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars,
               sum(len({_TOKENS}))::BIGINT AS sum_tokens,
               sum(n_chars)::DOUBLE / count(*) AS avg_chars
        FROM documents
        GROUP BY lang
    """


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic: count hits per language's
    marker list; predict the argmax (ties break in the fixed lang order).
    """
    toks = _tokens_col()
    cols = [F.col("doc_id")]
    for lg, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        cols.append(
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
            .cast("long")
            .alias(f"{lg}_hits")
        )
    out = documents.select(*cols)
    langs = list(LANG_MARKERS)
    # pred = first lang (in the fixed order) whose hits equal the row max,
    # provided max > 0 — identical CASE semantics to the SQL twin
    mx = F.greatest(*[F.col(f"{lg}_hits") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):
        pred = F.when(
            (F.col(f"{lg}_hits") == mx) & (mx > 0), F.lit(lg)
        ).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def lang_id_sql() -> str:
    hit_cols = []
    for lg, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_cols.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x)))::BIGINT AS {lg}_hits"
        )
    langs = list(LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"{lg}_hits" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN {lg}_hits = {mx} AND {mx} > 0 THEN '{lg}' "
    case += "ELSE 'und' END"
    return f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        h AS (SELECT doc_id, {', '.join(hit_cols)} FROM t)
        SELECT doc_id, {', '.join(f'{lg}_hits' for lg in langs)},
               {case} AS pred_lang
        FROM h
    """


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Normalization-invariant document fingerprint: md5 of the
    whitespace-normalized text (token stream joined by single spaces)."""
    return documents.select(
        "doc_id",
        F.md5(F.concat_ws(" ", _tokens_col())).alias("fingerprint"),
    )


def doc_fingerprint_sql() -> str:
    return f"""
        SELECT doc_id,
               md5(array_to_string({_TOKENS}, ' ')) AS fingerprint
        FROM documents
    """


#: frozen spec for line-level repetition signals (Gopher-style quality
#: rules, Rae et al. 2021 §A1.1): lines := split(text, '\n') keeping
#: lines with length(trim(line)) > 0; a line occurrence is "duplicate"
#: when its exact text occurs more than once in the SAME document.
#: quality_filter thresholds, phrased so every comparison is exact
#: integer arithmetic (no float thresholds → bit-stable across engines):
QF_MIN_TOKENS = 10          # R1: n_tokens >= 10
QF_MAX_TOKENS = 100_000     # R1: n_tokens <= 100k
QF_MIN_AVG_LEN = 2          # R2: sum_token_len >= 2 * n_tokens
QF_MAX_AVG_LEN = 12         # R2: sum_token_len <= 12 * n_tokens
QF_STOP_DENOM = 50          # R3: stop_hits * 50 >= n_tokens (ratio >= 2%)
QF_DUP_NUM, QF_DUP_DEN = 3, 10  # R4: n_dup_lines * 10 <= n_lines * 3


def _lines_col():
    """Non-empty lines of ``text`` (frozen spec above), as an array."""
    return F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
        lambda l: F.length(F.trim(l)) > 0,
    )


def _line_repetition_cols():
    """Integer repetition aggregates per row, computed MAP-ONLY: sort the
    per-doc line array and fold adjacent runs with ``F.aggregate`` (state
    struct: current run + banked totals). O(L log L) per doc inside
    whole-stage codegen — no explode, no groupBy, zero shuffle, which is
    the plan you want when this runs inside a 100 TB quality-scoring scan.
    (The SQL oracle twin uses the equivalent unnest+GROUP BY phrasing —
    the oracle optimizes for auditability, not scale.)

    Returns (n_lines, line_chars, n_dup_lines, dup_line_chars,
    top_line_count) columns.
    """
    lines = _lines_col()
    zero = F.lit(0).cast("long")
    n_lines = F.size(lines).cast("long")
    line_chars = F.aggregate(
        F.transform(lines, lambda l: F.length(l).cast("long")),
        zero,
        lambda acc, x: acc + x,
    )

    def _step(acc, x):
        same = (acc["run"] > 0) & (x == acc["prev"])
        closed_dup = acc["run"] > 1
        banked_ndup = acc["ndup"] + F.when(closed_dup, acc["run"]).otherwise(zero)
        banked_dupch = acc["dupch"] + F.when(
            closed_dup, acc["run"] * F.length(acc["prev"]).cast("long")
        ).otherwise(zero)
        return F.when(
            same,
            F.struct(
                x.alias("prev"),
                (acc["run"] + F.lit(1).cast("long")).alias("run"),
                acc["ndup"].alias("ndup"),
                acc["dupch"].alias("dupch"),
                acc["top"].alias("top"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                banked_ndup.alias("ndup"),
                banked_dupch.alias("dupch"),
                F.greatest(acc["top"], acc["run"]).alias("top"),
            )
        )

    folded = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("ndup"),
            zero.alias("dupch"),
            zero.alias("top"),
        ),
        _step,
        lambda acc: F.struct(
            (
                acc["ndup"]
                + F.when(acc["run"] > 1, acc["run"]).otherwise(zero)
            ).alias("ndup"),
            (
                acc["dupch"]
                + F.when(
                    acc["run"] > 1,
                    acc["run"] * F.length(acc["prev"]).cast("long"),
                ).otherwise(zero)
            ).alias("dupch"),
            F.greatest(acc["top"], acc["run"]).alias("top"),
        ),
    )
    return n_lines, line_chars, folded


def repetition_profile(documents: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_dup_lines, dup_line_frac, dup_line_char_frac,
    top_line_count) — Gopher-style duplicate-line signals (the "fraction
    of duplicate lines / characters in duplicate lines" filters of Rae et
    al. 2021). Fractions are single divisions of exact integer counts.
    """
    n_lines, line_chars, folded = _line_repetition_cols()
    d = documents.select(
        "doc_id", n_lines.alias("n_lines"), line_chars.alias("line_chars"),
        folded.alias("f"),
    )
    return d.select(
        "doc_id",
        "n_lines",
        F.col("f.ndup").alias("n_dup_lines"),
        F.when(
            F.col("n_lines") > 0,
            F.col("f.ndup").cast("double") / F.col("n_lines"),
        ).otherwise(F.lit(0.0)).cast("double").alias("dup_line_frac"),
        F.when(
            F.col("line_chars") > 0,
            F.col("f.dupch").cast("double") / F.col("line_chars"),
        ).otherwise(F.lit(0.0)).cast("double").alias("dup_line_char_frac"),
        F.col("f.top").alias("top_line_count"),
    )


def repetition_profile_sql() -> str:
    return """
        WITH lines AS (
          SELECT doc_id, line FROM (
            SELECT doc_id,
                   unnest(string_split(coalesce(text, ''), chr(10))) AS line
            FROM documents)
          WHERE length(trim(line)) > 0),
        per AS (
          SELECT doc_id, line, count(*) AS c, length(line) AS len
          FROM lines GROUP BY doc_id, line),
        agg AS (
          SELECT doc_id,
                 sum(c)::BIGINT AS n_lines,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_dup_lines,
                 sum(c * len)::BIGINT AS line_chars,
                 sum(CASE WHEN c > 1 THEN c * len ELSE 0 END)::BIGINT
                   AS dup_line_chars,
                 max(c)::BIGINT AS top_line_count
          FROM per GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(a.n_lines, 0)::BIGINT AS n_lines,
               coalesce(a.n_dup_lines, 0)::BIGINT AS n_dup_lines,
               CASE WHEN coalesce(a.n_lines, 0) > 0
                 THEN coalesce(a.n_dup_lines, 0)::DOUBLE / a.n_lines
                 ELSE 0.0 END AS dup_line_frac,
               CASE WHEN coalesce(a.line_chars, 0) > 0
                 THEN coalesce(a.dup_line_chars, 0)::DOUBLE / a.line_chars
                 ELSE 0.0 END AS dup_line_char_frac,
               coalesce(a.top_line_count, 0)::BIGINT AS top_line_count
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


#: PII patterns, restricted to constructs Java regex (Spark) and RE2
#: (DuckDB) evaluate identically: ASCII classes, bounded repetition,
#: ASCII word boundaries (\b is ASCII-\w-based in both), no lookarounds
#: (RE2 has none), no backreferences. Redaction applies them in this
#: order (emails first so their digit/dot runs can't be re-matched).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{7,15}\b"
_PII_ORDER = [
    ("email", PII_EMAIL, "<EMAIL>"),
    ("ipv4", PII_IPV4, "<IP>"),
    ("phone", PII_PHONE, "<PHONE>"),
]


def pii_profile(documents: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones, pii_total, redacted_fp) —
    per-doc PII detection counts plus the md5 fingerprint of the
    REDACTED text (matches spans replaced by fixed tokens, applied in
    the frozen ``_PII_ORDER``). The fingerprint lets a pipeline verify
    redacted output without shipping the text itself.

    Map-only JVM regexp (whole-stage codegen, zero shuffle) — the shape
    you want when this runs inside a 100 TB quality/compliance scan.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    counts = {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast(
            "long"
        )
        for name, pat, _ in _PII_ORDER
    }
    redacted = text
    for _, pat, token in _PII_ORDER:
        redacted = F.regexp_replace(redacted, pat, token)
    return documents.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phones"),
        (counts["email"] + counts["ipv4"] + counts["phone"]).alias(
            "pii_total"
        ),
        F.md5(redacted).alias("redacted_fp"),
    )


def pii_profile_sql() -> str:
    def cnt(pat: str) -> str:
        p = pat.replace("'", "''")
        return f"len(regexp_extract_all(coalesce(text, ''), '{p}'))"

    redacted = "coalesce(text, '')"
    for _, pat, token in _PII_ORDER:
        p = pat.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{p}', '{token}', 'g')"
    return f"""
        SELECT doc_id,
               {cnt(PII_EMAIL)}::BIGINT AS n_emails,
               {cnt(PII_IPV4)}::BIGINT AS n_ipv4,
               {cnt(PII_PHONE)}::BIGINT AS n_phones,
               ({cnt(PII_EMAIL)} + {cnt(PII_IPV4)} + {cnt(PII_PHONE)})::BIGINT
                 AS pii_total,
               md5({redacted}) AS redacted_fp
        FROM documents
    """


def quality_filter(documents: DataFrame) -> DataFrame:
    """(doc_id, rule_*, keep) — the Gopher-ish keep/drop gate a
    training-data pipeline actually runs, composed from the integer-exact
    doc_quality + repetition signals. Every rule is an exact integer
    comparison (thresholds phrased as cross-multiplications, see the
    QF_* constants) so the verdicts are bit-stable across engines; rule
    flags are 0/1 INTs for hash-stable driver comparison. Map-only.
    """
    toks = _tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("long")
    n_lines, _line_chars, folded = _line_repetition_cols()

    d = documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        sum_tok_len.alias("sum_token_len"),
        stop_hits.alias("stop_hits"),
        n_lines.alias("n_lines"),
        folded["ndup"].alias("n_dup_lines"),
    )
    r1 = (
        (F.col("n_tokens") >= QF_MIN_TOKENS)
        & (F.col("n_tokens") <= QF_MAX_TOKENS)
    ).cast("int")
    r2 = (
        (F.col("sum_token_len") >= QF_MIN_AVG_LEN * F.col("n_tokens"))
        & (F.col("sum_token_len") <= QF_MAX_AVG_LEN * F.col("n_tokens"))
        & (F.col("n_tokens") > 0)
    ).cast("int")
    r3 = (F.col("stop_hits") * QF_STOP_DENOM >= F.col("n_tokens")).cast("int")
    r4 = (
        F.col("n_dup_lines") * QF_DUP_DEN <= F.col("n_lines") * QF_DUP_NUM
    ).cast("int")
    return d.select(
        "doc_id",
        r1.alias("rule_token_count"),
        r2.alias("rule_avg_token_len"),
        r3.alias("rule_stopword"),
        r4.alias("rule_dup_lines"),
        (r1.cast("boolean") & r2.cast("boolean") & r3.cast("boolean")
         & r4.cast("boolean")).cast("int").alias("keep"),
    )


def quality_filter_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
        WITH t AS (
          SELECT doc_id,
                 len({_TOKENS})::BIGINT AS n_tokens,
                 coalesce(list_sum(list_transform({_TOKENS}, x -> length(x))), 0)::BIGINT
                   AS sum_token_len,
                 len(list_filter({_TOKENS}, x -> list_contains([{stop_list}], x)))::BIGINT
                   AS stop_hits
          FROM documents),
        lines AS (
          SELECT doc_id, line FROM (
            SELECT doc_id,
                   unnest(string_split(coalesce(text, ''), chr(10))) AS line
            FROM documents)
          WHERE length(trim(line)) > 0),
        per AS (
          SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line),
        rep AS (
          SELECT doc_id,
                 sum(c)::BIGINT AS n_lines,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_dup_lines
          FROM per GROUP BY doc_id),
        j AS (
          SELECT t.doc_id, t.n_tokens, t.sum_token_len, t.stop_hits,
                 coalesce(rep.n_lines, 0) AS n_lines,
                 coalesce(rep.n_dup_lines, 0) AS n_dup_lines
          FROM t LEFT JOIN rep USING (doc_id)),
        r AS (
          SELECT doc_id,
                 (n_tokens >= {QF_MIN_TOKENS} AND n_tokens <= {QF_MAX_TOKENS})::INTEGER
                   AS rule_token_count,
                 (sum_token_len >= {QF_MIN_AVG_LEN} * n_tokens
                  AND sum_token_len <= {QF_MAX_AVG_LEN} * n_tokens
                  AND n_tokens > 0)::INTEGER AS rule_avg_token_len,
                 (stop_hits * {QF_STOP_DENOM} >= n_tokens)::INTEGER AS rule_stopword,
                 (n_dup_lines * {QF_DUP_DEN} <= n_lines * {QF_DUP_NUM})::INTEGER
                   AS rule_dup_lines
          FROM j)
        SELECT doc_id, rule_token_count, rule_avg_token_len, rule_stopword,
               rule_dup_lines,
               (rule_token_count = 1 AND rule_avg_token_len = 1
                AND rule_stopword = 1 AND rule_dup_lines = 1)::INTEGER AS keep
        FROM r
    """


# --------------------------------------------------------------------------
# HTML -> text extraction (the north-rule per-row invariant stage)
# --------------------------------------------------------------------------

#: frozen entity decode table; ``&amp;`` is decoded LAST so that
#: "&amp;lt;" yields "&lt;" (one decode pass), never "<".
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

#: element-with-content removals, then comments, then every remaining tag.
#: Inline flags ``(?is)`` (not engine option strings) so the Java regex in
#: Spark and RE2 in DuckDB compile the identical pattern; both use lazy
#: ``.*?`` with left-to-right non-overlapping global replace, so the
#: extracted bytes are identical across engines. No backreferences (RE2
#: has none), hence separate script/style patterns.
_HTML_STRIP_PATTERNS = [
    r"(?is)<script\b[^>]*>.*?</script\s*>",
    r"(?is)<style\b[^>]*>.*?</style\s*>",
    r"(?s)<!--.*?-->",
    r"(?s)<[^>]*>",
]


def extract_text(pages: DataFrame, key: str = "url") -> DataFrame:
    """(key, text) — HTML→text extraction over a pages-shaped table
    (``html`` binary column, BASELINE.json input_hint). This is the
    stage whose output carries the north-rule per-row invariant:
    byte-identical extracted text per url across runs and engines.

    Frozen spec (all JVM built-ins, zero Python, map-only — scales as a
    pure scan projection at 100 TB, and Parquet reads only (key, html)):

    1. decode ``html`` bytes as UTF-8 (NULL → '')
    2. remove ``<script>``/``<style>`` elements INCLUDING content
    3. remove ``<!-- comments -->``
    4. strip every remaining ``<...>`` tag (no whitespace inserted)
    5. decode the six frozen entities, ``&amp;`` last

    Deliberately NOT a browser: no block-element newlines, no whitespace
    collapse — those would make the invariant depend on render policy.
    """
    return pages.select(key, html_text_col().alias("text"))


def html_text_col(html_col: str = "html"):
    """The frozen extraction as a reusable Column (see
    :func:`extract_text` for the spec) — lets the dedup pipeline derive
    ``text`` in the same map pass as the sketch when only ``html`` is
    populated."""
    col = F.coalesce(F.decode(F.col(html_col), "UTF-8"), F.lit(""))
    for pat in _HTML_STRIP_PATTERNS:
        col = F.regexp_replace(col, pat, "")
    for ent, ch in HTML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def documents_as_pages(documents: DataFrame) -> DataFrame:
    """(doc_id, html) — deterministic html wrapper around the flat
    testdata text (the documents table has no html column), planting
    every frozen extraction feature: a head ``<style>`` block, a
    ``<script>`` whose content (with a raw ``<`` and an entity) must
    vanish, an html comment, tag attributes, and all six frozen entities
    on the ``doc_id % 4 == 0`` slice. The SQL twin builds byte-identical
    strings, so :func:`extract_text` is value-checked end-to-end (same
    pattern as ``dedup.documents_with_urls``)."""
    d = F.col("doc_id")
    body = F.concat(
        F.lit(
            "<html><head><title>p</title><style>p{color:red}</style>"
            '</head><body onload="x()"><p>'
        ),
        F.coalesce("text", F.lit("")),
        F.lit(
            '</p><script type="text/javascript">if (1<2) {'
            ' alert("&amp;"); }</script><!-- footer -->'
        ),
        F.when(
            d % 4 == 0,
            F.lit(
                "<div>R&amp;D &lt;tag&gt; &quot;q&quot;"
                " &#39;s&#39;&nbsp;end</div>"
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return documents.select("doc_id", F.encode(body, "UTF-8").alias("html"))


#: DuckDB twin of :func:`documents_as_pages`'s html string (VARCHAR —
#: the UTF-8 encode/decode roundtrip is the identity on it).
_SYNTH_HTML_SQL = """
    '<html><head><title>p</title><style>p{color:red}</style>'
    || '</head><body onload="x()"><p>'
    || coalesce(text, '')
    || '</p><script type="text/javascript">if (1<2) {'
    || ' alert("&amp;"); }</script><!-- footer -->'
    || (CASE WHEN doc_id % 4 = 0
             THEN '<div>R&amp;D &lt;tag&gt; &quot;q&quot;'
                  || ' &#39;s&#39;&nbsp;end</div>'
             ELSE '' END)
    || '</body></html>'
"""


def extract_text_sql(key: str = "doc_id", html_expr: str | None = None) -> str:
    """DuckDB twin of :func:`extract_text` over
    :func:`documents_as_pages`-shaped input; ``html_expr`` defaults to
    the synthetic builder (pass a real column to check a stored corpus)."""
    html_expr = html_expr or _SYNTH_HTML_SQL
    col = f"coalesce({html_expr}, '')"
    for pat in _HTML_STRIP_PATTERNS:
        # DuckDB regular string literals pass backslashes through
        # verbatim (no escape processing) — only quotes need doubling
        esc = pat.replace("'", "''")
        col = f"regexp_replace({col}, '{esc}', '', 'g')"
    for ent, ch in HTML_ENTITIES:
        lit = "chr(160)" if ch == " " else "'" + ch.replace("'", "''") + "'"
        col = f"replace({col}, '{ent}', {lit})"
    return f"SELECT {key}, {col} AS text FROM documents"


#: frozen winnowing spec (Schleimer, Wilkerson & Aiken, "Winnowing:
#: Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
#: MOSS fingerprinting scheme; reference analogue: jam-rs's per-record
#: sketch-select loop, src/sketcher.rs:103-162, which likewise selects
#: a deterministic subset of per-shingle hashes):
#:   tokens    := the corpus token spec (_TOKENS / _tokens_col)
#:   k-grams   := k consecutive tokens joined by ' '; g = n_tokens-k+1
#:   hash      := md5 hex of the k-gram string. Winnowing needs only a
#:                TOTAL ORDER on hashes, so the fixed-width lowercase
#:                hex string under lexicographic order is used directly
#:                — it is bit-identical in Spark and DuckDB, which makes
#:                the operator hash-checkable by the driver (a numeric
#:                conversion would have to reproduce two engines' hex
#:                parsing; the string order needs nothing).
#:   windows   := every w consecutive gram hashes; docs with fewer than
#:                w grams get ONE window over all their grams (so every
#:                doc with >= k tokens yields >= 1 fingerprint)
#:   selection := per window, the minimum hash; ties broken to the
#:                RIGHTMOST minimal position (deterministic, and the
#:                convention under which adjacent windows re-select the
#:                same occurrence, giving winnowing's density ~2/(w+1))
#:   output    := DISTINCT (fp, pos) pairs per doc, pos = 1-based token
#:                index of the selected k-gram's start
#: Guarantee (the paper's Theorem): any shared token run of length
#: >= w+k-1 between two documents produces at least one shared
#: fingerprint — the basis of winnow_dup_pairs in ops/dedup.py.
WINNOW_K = 4
WINNOW_W = 4


def winnow_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowed document fingerprints (SIGMOD'03 / MOSS) as rows
    ``(doc_id, fp, pos)`` — map-only (Project + one Generate, zero
    shuffle at any scale): every per-window argmin runs inside codegen
    over the per-row gram array; no Python, no join, no aggregate.

    At 100 TB this is the fingerprint-extraction pass of a
    winnowing-based dedup: ~2/(w+1) of grams survive per doc, the
    output is (doc, fp) postings ready for the capped inverted-index
    join in :func:`jam_spark.ops.dedup.winnow_dup_pairs`.
    """
    return (
        _winnow_sel(documents, *_winnow_exprs(k, w))
        .select("doc_id", F.explode("sel").alias("u"))
        .select(
            "doc_id",
            F.substring("u", 1, 32).alias("fp"),
            F.expr("cast(substring(u, 34) as bigint)").alias("pos"),
        )
    )


def _winnow_exprs(k: int, w: int) -> tuple[str, str]:
    """(grams, sel) SQL expressions for the frozen winnowing spec.

    Per window j: rightmost-minimal (hash, pos) in ONE fold over the
    window — ``<=`` keeps the latest minimal occurrence, and the seed
    '~' (0x7e) sorts after every hex char so the first element always
    replaces it. A slice+array_min+filter formulation computes the
    same selection but scans each window three times and allocates a
    slice per window (measured ~2x slower on the 100 TB-shaped pass).
    Encoded 'fp:pos' so array_distinct needs no struct support in the
    SQL twin.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    kg = k - 1
    # NULL toks (NULL text) must land in the empty branch too — with no
    # row filter downstream (see the sel note), a NULL passed through
    # the fold would surface the '~:-1' seed as a bogus fingerprint
    grams = (
        f"CASE WHEN toks IS NULL OR size(toks) < {k} THEN array() "
        f"ELSE transform(sequence(1, size(toks) - {kg}), "
        f"i -> md5(array_join(slice(toks, i, {k}), ' '))) END"
    )
    fold = (
        f"aggregate(sequence(j, least(j + {w - 1}, size(grams))), "
        f"named_struct('fp', '~', 'pos', -1), "
        f"(acc, i) -> IF(element_at(grams, i) <= acc.fp, "
        f"named_struct('fp', element_at(grams, i), 'pos', i), acc))"
    )
    # the empty-grams guard lives INSIDE the expression (empty array ->
    # explode emits nothing) rather than as a .filter(size(grams) > 0):
    # a filter predicate referencing grams gets predicate-pushed below
    # any repartition Exchange, and since the predicate CONTAINS the
    # md5-per-gram computation, the whole hash pass would run inside the
    # (possibly single-split) scan stage — measured: the entire operator
    # serialized on one task at sf0.1 despite the parallelism guard.
    sel = (
        f"CASE WHEN size(grams) = 0 THEN array() "
        f"ELSE array_distinct(transform("
        f"transform(sequence(1, greatest(size(grams) - {w - 1}, 1)), "
        f"j -> {fold}), "
        f"s -> concat(s.fp, ':', cast(s.pos as string)))) END"
    )
    return grams, sel


def _winnow_sel(documents: DataFrame, grams: str, sel: str) -> DataFrame:
    return (
        documents.select("doc_id", _tokens_col().alias("toks"))
        .select("doc_id", F.expr(grams).alias("grams"))
        .select("doc_id", F.expr(sel).alias("sel"))
    )


def winnow_doc_fps(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Per-doc DISTINCT winnowed fingerprints ``(doc_id, fp)`` — the
    postings input of :func:`jam_spark.ops.dedup.winnow_dup_pairs`.
    Same selection as :func:`winnow_fingerprints`, but the dedup happens
    INSIDE the row (array_distinct over the selected hashes before the
    explode), so the pair join needs no corpus-wide ``.distinct()``
    exchange: (doc_id, fp) duplicates can only arise within one doc."""
    df = _winnow_sel(documents, *_winnow_exprs(k, w))
    return df.select(
        "doc_id",
        F.explode(
            F.expr("array_distinct(transform(sel, u -> substring(u, 1, 32)))")
        ).alias("fp"),
    )


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (identical md5-hex
    lexicographic selection, identical short-doc single-window rule).
    Grams and windows are built by element access: a DuckDB list slice
    takes time linear in the whole list (O(len^2) per doc)."""
    kg, wg = k - 1, w - 1
    gram = " || ' ' || ".join(f"toks[i + {t}]" for t in range(k))
    mn = f"list_min([grams[m] FOR m IN range(j, least(j + {wg}, ng) + 1)])"
    return f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        g AS (SELECT doc_id,
                [md5({gram})
                 FOR i IN range(1, greatest(len(toks) - {kg}, 0) + 1)] AS grams
              FROM t),
        s AS (SELECT doc_id, grams, len(grams) AS ng FROM g
              WHERE len(grams) > 0),
        w AS (SELECT doc_id,
                list_distinct([
                    {mn} || ':' ||
                    list_max([i FOR i IN range(j, least(j + {wg}, ng) + 1)
                              IF grams[i] = {mn}])
                  FOR j IN range(1, greatest(ng - {wg}, 1) + 1)]) AS sel
              FROM s)
        SELECT doc_id,
               substring(u, 1, 32) AS fp,
               substring(u, 34)::BIGINT AS pos
        FROM (SELECT doc_id, unnest(sel) AS u FROM w)
    """
