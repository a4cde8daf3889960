"""Text-analysis pipeline over the ``documents`` fixture.

Covers the reference's text surface (StringFunctions.java:62 split/length/
lower, ArrayNgramsFunction.java ngrams, WordStemFunction.java:51 stemming
niche) re-expressed as pipeline-scale operators: token counting, quality
scoring, language-ID, fingerprinting (SURVEY.md §7 Phase 6).

All scoring is built-in-function arithmetic (regexp + lambda HOFs) — JVM
codegen on the Spark side, one map-side pass per document, aggregations
shuffle only grouped scalars (never raw text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import text as T
from .registry import query, sql_over

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _token_stats_sql(d: str) -> str:
    toks = T.tokens("text", d)
    return f"""
WITH per_doc AS (
    SELECT doc_id, source, {T.array_size(toks, d)} AS n_tokens, n_chars
    FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       max(n_tokens) AS max_tokens,
       min(n_tokens) AS min_tokens,
       round(avg(CAST(n_chars AS DOUBLE) / n_tokens), 4) AS avg_chars_per_token
FROM per_doc
GROUP BY source
ORDER BY source
"""


@query(
    "text_token_stats",
    oracle=_token_stats_sql("duck"),
    doc="Whitespace token counting per document, aggregated per source "
    "(map-side tokenize, shuffle only grouped scalars).",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _token_stats_sql("spark"), ("documents",))


def _bpe_count_sql(d: str) -> str:
    # BPE-ish pre-tokenizer: letter runs | digit runs | non-space symbol runs
    # — the GPT-2 pre-tokenizer shape, regex-only. The space is written as a
    # literal class member (no backslash escapes: Spark SQL string literals
    # eat unknown escapes, DuckDB does not).
    pat = "'([a-z]+|[0-9]+|[^a-z0-9 ]+)'"
    if d == "spark":
        n = f"size(regexp_extract_all(lower(text), {pat}, 0))"
    else:
        n = f"len(regexp_extract_all(lower(text), {pat}))"
    return f"""
SELECT source,
       CAST(sum({n}) AS BIGINT) AS total_bpe_tokens,
       round(avg({n}), 4) AS avg_bpe_tokens
FROM documents
GROUP BY source
ORDER BY source
"""


@query(
    "text_bpe_token_count",
    oracle=_bpe_count_sql("duck"),
    doc="BPE-ish token counting via regex pre-tokenizer (letter/digit/symbol "
    "runs), regexp_extract_all only — no Python in the loop.",
    tags=("text",),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _bpe_count_sql("spark"), ("documents",))


def _quality_doc_ctes(d: str, src: str = "documents") -> str:
    """Per-doc quality CTE chain (feat -> scored -> final) shared by the
    per-source rollup (text_quality_score) and the quality-ranked
    canonical pick (dedup_canonical_best): one scoring definition, both
    dialects, so every consumer agrees on what 'best' means."""
    toks = T.tokens("text", d)
    g = ", 'g'" if d == "duck" else ""
    n_alnum = f"length(regexp_replace(lower(text), '[^a-z0-9]', ''{g}))"
    n_stop = (
        f"size(filter(toks, t -> t IN {STOPWORDS}))"
        if d == "spark"
        else f"len(list_filter(toks, t -> t IN {STOPWORDS}))"
    )
    return f"""feat AS (
    SELECT doc_id, source, n_chars, {toks} AS toks,
           {n_alnum} AS n_alnum
    FROM {src}
),
scored AS (
    SELECT doc_id, source,
           {T.array_size('toks', d)} AS n_tokens,
           round(CAST(n_chars - n_alnum AS DOUBLE) / n_chars, 6) AS punct_ratio,
           round(CAST({n_stop} AS DOUBLE) / {T.array_size('toks', d)}, 6) AS stopword_ratio,
           round(CAST(n_alnum AS DOUBLE) / {T.array_size('toks', d)}, 6) AS avg_token_len
    FROM feat
),
final AS (
    SELECT doc_id, source, n_tokens, punct_ratio, stopword_ratio, avg_token_len,
           CAST(round(
             (CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN punct_ratio < 0.3 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN avg_token_len BETWEEN 2 AND 12 THEN 0.1 ELSE 0.0 END), 1) AS DOUBLE)
           AS quality_score
    FROM scored
)"""


def _quality_sql(d: str) -> str:
    return f"""
WITH {_quality_doc_ctes(d)}
SELECT source,
       count(*) AS n_docs,
       round(avg(quality_score), 6) AS avg_quality,
       CAST(sum(CASE WHEN quality_score >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM final
GROUP BY source
ORDER BY source
"""


@query(
    "text_quality_score",
    oracle=_quality_sql("duck"),
    doc="Composite quality scoring (length/punct/stopword/token-length "
    "heuristics) with keep-threshold counts per source.",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _quality_sql("spark"), ("documents",))


def _langid_sql(d: str) -> str:
    toks = T.tokens("text", d)
    hits = {lang: T.marker_hits("toks", lang, d) for lang in T.LANG_MARKERS}
    # arg-max by marker hits with deterministic tie-break (alphabetical lang).
    pairs = ", ".join(f"({hits[lang]}, '{lang}')" for lang in sorted(T.LANG_MARKERS))
    if d == "spark":
        guess = (
            f"array_max(array({', '.join(f'struct({hits[lang]} AS h, {chr(39)}{lang}{chr(39)} AS l)' for lang in sorted(T.LANG_MARKERS, reverse=True))})).l"
        )
    else:
        guess = (
            # struct-max on the Spark side ties to the *last* lang; match it.
            "(SELECT l FROM (VALUES " + pairs + ") AS m(h, l) ORDER BY h DESC, l DESC LIMIT 1)"
        )
    return f"""
WITH toks_t AS (
    SELECT doc_id, lang, {toks} AS toks FROM documents
),
guessed AS (
    SELECT doc_id, lang AS labeled_lang, {guess} AS guessed_lang FROM toks_t
)
SELECT labeled_lang, guessed_lang, count(*) AS n_docs
FROM guessed
GROUP BY labeled_lang, guessed_lang
ORDER BY labeled_lang, guessed_lang
"""


@query(
    "text_langid_confusion",
    oracle=_langid_sql("duck"),
    doc="N-gram/stopword-marker language ID, reported as a confusion matrix "
    "against the labeled lang column.",
    tags=("text",),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _langid_sql("spark"), ("documents",))


def _fingerprint_sql(d: str) -> str:
    # Winnowing-style fingerprint: the minimum shingle hash per document (the
    # k=1 minhash) plus a full-content digest; duplicates share fingerprints.
    toks = T.tokens("text", d)
    sh = T.shingles("toks", d)
    from ..operators import dedup as DD

    hashes = DD.shingle_hashes("sh", d)
    amin = "array_min" if d == "spark" else "list_min"
    join = "array_join" if d == "spark" else "array_to_string"
    return f"""
WITH toks_t AS (
    SELECT doc_id, {toks} AS toks FROM documents
),
sh_t AS (
    SELECT doc_id, {sh} AS sh, toks FROM toks_t
),
fp AS (
    SELECT doc_id,
           {amin}({hashes}) AS min_shingle_hash,
           md5({join}(toks, ' ')) AS content_digest
    FROM sh_t
)
SELECT count(DISTINCT min_shingle_hash) AS n_distinct_fingerprints,
       count(DISTINCT content_digest) AS n_distinct_digests,
       count(*) AS n_docs,
       min(min_shingle_hash) AS global_min_hash
FROM fp
"""


@query(
    "text_fingerprint",
    oracle=_fingerprint_sql("duck"),
    doc="Document fingerprinting: min-shingle-hash (winnowing-style) + "
    "content digest; distinct-fingerprint census.",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _fingerprint_sql("spark"), ("documents",))


def _split_sql(d: str) -> str:
    # Reproducible train/val/test split by PORTABLE hash (hash60 mod 1000):
    # the split a document lands in is a pure function of its id — stable
    # across runs, engines, cluster sizes, and data order, unlike RNG
    # sampling. 80/10/10 by permille bucket.
    h = T.hash60("CAST(doc_id AS STRING)", d)
    return f"""
WITH assigned AS (
    SELECT lang,
           CASE WHEN {h} % 1000 < 800 THEN 'train'
                WHEN {h} % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT lang, split, count(*) AS n_docs
FROM assigned
GROUP BY lang, split
ORDER BY lang, split
"""


@query(
    "text_train_test_split",
    oracle=_split_sql("duck"),
    doc="Reproducible 80/10/10 train/val/test split via portable hash "
    "permille buckets (deterministic across engines/runs/cluster sizes — "
    "the training-pipeline alternative to RNG sampling); per-language "
    "split counts.",
    tags=("text", "extension"),
)
def text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _split_sql("spark"), ("documents",))


def _packing_sql(d: str) -> str:
    # Sequence packing for LLM training prep: per language, documents in
    # deterministic (doc_id) order are chunked into packs of <= 4096 tokens
    # by running-cumsum bucketing — the streaming, one-shuffle approximation
    # of greedy bin packing (window cumsum, identical in both engines).
    # Oversized documents occupy their own pack(s).
    toks = T.tokens("text", d)
    n = T.array_size("toks", d)
    return f"""
WITH counted AS (
    SELECT lang, doc_id, {n} AS n_tokens
    FROM (SELECT lang, doc_id, {toks} AS toks FROM documents)
),
runs AS (
    SELECT lang, doc_id, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM counted
),
packed AS (
    SELECT lang, doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS pack_id
    FROM runs
)
SELECT lang, pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY lang, pack_id
ORDER BY lang, pack_id
"""


@query(
    "text_sequence_packing",
    oracle=_packing_sql("duck"),
    doc="Sequence packing (LLM training prep): per-language deterministic "
    "doc order chunked into ~4096-token packs by running-cumsum bucketing "
    "— one window shuffle, no driver loop; the streaming approximation of "
    "greedy bin packing.",
    tags=("text", "extension"),
)
def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _packing_sql("spark"), ("documents",))


def _decontaminate_sql(d: str, sh_view: str | None = None) -> str:
    # Train/test decontamination: a test document is contaminated when >= 50%
    # of its distinct 3-gram shingles also appear anywhere in the train split.
    # Shape: the train corpus is reduced to its DISTINCT shingle set first
    # (one aggregation), then test postings semi-join that set — an
    # inverted-index equi-join, never test x train all-pairs, and the
    # intermediate never multiplies a test shingle by its train occurrence
    # count. Split assignment reuses the portable-hash permille buckets of
    # ``text_train_test_split`` so the op composes with it deterministically.
    toks = T.tokens("text", d)
    sh = T.shingles("toks", d)
    h = T.hash60("CAST(doc_id AS STRING)", d)
    # staged-view path: sh_t feeds the inverted index (whose two
    # consumers re-inline it) and the scored rollup — three shingle
    # computations of the corpus unstaged (see _bigram_lm_sql)
    src = sh_view or "sh_t"
    if d == "spark":
        exploded = f"SELECT doc_id, split, shingle FROM {src} LATERAL VIEW explode(sh) AS shingle"
    else:
        exploded = f"SELECT doc_id, split, unnest(sh) AS shingle FROM {src}"
    sh_ctes = "" if sh_view else f"""split_docs AS (
    SELECT doc_id, lang, {toks} AS toks,
           CASE WHEN {h} % 1000 < 800 THEN 'train'
                WHEN {h} % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
sh_t AS (
    SELECT doc_id, lang, split, {sh} AS sh,
           {T.array_size(sh, d)} AS n_sh
    FROM split_docs
),
"""
    return f"""
WITH {sh_ctes}inv AS (
    {exploded}
),
train_shingles AS (
    SELECT DISTINCT shingle FROM inv WHERE split = 'train'
),
test_overlap AS (
    SELECT t.doc_id, count(*) AS n_common
    FROM inv t JOIN train_shingles tr ON t.shingle = tr.shingle
    WHERE t.split = 'test'
    GROUP BY t.doc_id
),
scored AS (
    SELECT d.lang,
           CAST(COALESCE(o.n_common, 0) AS DOUBLE) / d.n_sh AS overlap_ratio
    FROM (SELECT doc_id, lang, n_sh FROM {src} WHERE split = 'test') d
    LEFT JOIN test_overlap o ON d.doc_id = o.doc_id
)
SELECT lang,
       count(*) AS n_test_docs,
       CAST(sum(CASE WHEN overlap_ratio >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       round(avg(overlap_ratio), 6) AS avg_overlap_ratio
FROM scored
GROUP BY lang
ORDER BY lang
"""


@query(
    "text_decontaminate",
    oracle=_decontaminate_sql("duck"),
    doc="Train/test decontamination: test docs with >= 50% of their distinct "
    "3-gram shingles present in the train split, via DISTINCT-train-shingle "
    "semi-join (inverted index, never all-pairs); per-language counts.",
    tags=("text", "extension"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    toks = T.tokens("text", "spark")
    sh = T.shingles("toks", "spark")
    h = T.hash60("CAST(doc_id AS STRING)", "spark")
    build_sql = f"""
SELECT doc_id, lang, split, {sh} AS sh, {T.array_size(sh, "spark")} AS n_sh
FROM (
    SELECT doc_id, lang, {toks} AS toks,
           CASE WHEN {h} % 1000 < 800 THEN 'train'
                WHEN {h} % 1000 < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
"""
    sh_v = staged_view(
        spark, sf_dir, "decontaminate_shingles",
        lambda: sql_over(spark, sf_dir, build_sql, ("documents",)),
    )
    return sql_over(
        spark, sf_dir,
        _decontaminate_sql("spark", sh_view=sh_v),
        ("documents",),
    )


def _repetition_sql(d: str, tok_view: str | None = None) -> str:
    # Gopher-style within-document repetition signals: fraction of token
    # occurrences taken by the single most frequent token, and fraction of
    # 2-gram occurrences that are repeats (1 - distinct/total). Both are
    # computed from exploded posting tables with grouped codegen aggregates
    # (map-side combined) — no per-document Python loop, no driver collect.
    toks = T.tokens("text", d)
    if d == "spark":
        # Bigrams via posexplode + lead, NOT a per-doc transform(sequence(...))
        # HOF: the interpreted lambda with two element_at calls per index
        # measured 19 s at sf0.1 where this all-codegen form (explode ->
        # window keyed on doc_id -> agg on the SAME key, so the window's
        # exchange is reused by the aggregate) measures 0.9 s — 21x.
        uni = "SELECT doc_id, tok FROM toks_t LATERAL VIEW explode(toks) AS tok"
        big = (
            "SELECT doc_id, big FROM ("
            "  SELECT doc_id, tok || ' ' || lead(tok) OVER ("
            "    PARTITION BY doc_id ORDER BY pos) AS big"
            "  FROM toks_t LATERAL VIEW posexplode(toks) AS pos, tok"
            ") WHERE big IS NOT NULL"
        )
    else:
        bigs = "list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1])"
        uni = "SELECT doc_id, unnest(toks) AS tok FROM toks_t"
        big = (
            f"SELECT doc_id, unnest(bigs) AS big FROM ("
            f"SELECT doc_id, {bigs} AS bigs FROM toks_t WHERE len(toks) >= 2) big_t"
        )
    # staged-view path: reference the token table directly (pass-through
    # CTEs miss Spark's cache — see _bigram_lm_sql); toks_t feeds both
    # the unigram and bigram explodes, so unstaged it tokenizes twice
    if tok_view:
        src = tok_view
        tok_cte = ""
        uni = uni.replace("toks_t", src)
        big = big.replace("toks_t", src)
    else:
        src = "toks_t"
        tok_cte = f"""toks_t AS (
    SELECT doc_id, source, {toks} AS toks FROM documents
),
"""
    return f"""
WITH {tok_cte}uni_counts AS (
    SELECT doc_id, tok, count(*) AS c
    FROM ({uni}) u
    GROUP BY doc_id, tok
),
uni_stats AS (
    SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_token_frac
    FROM uni_counts
    GROUP BY doc_id
),
big_stats AS (
    SELECT doc_id,
           1.0 - CAST(count(DISTINCT big) AS DOUBLE) / count(*) AS dup_bigram_frac
    FROM ({big}) b
    GROUP BY doc_id
),
per_doc AS (
    -- scan documents directly for the source decoration: Spark inlines
    -- CTEs, so referencing toks_t here would tokenize the corpus a THIRD
    -- time just to read a column the raw table already has
    SELECT t.source, u.top_token_frac,
           COALESCE(b.dup_bigram_frac, CAST(0 AS DOUBLE)) AS dup_bigram_frac
    FROM (SELECT doc_id, source FROM documents) t
    JOIN uni_stats u ON t.doc_id = u.doc_id
    LEFT JOIN big_stats b ON t.doc_id = b.doc_id
)
SELECT source,
       count(*) AS n_docs,
       round(avg(top_token_frac), 6) AS avg_top_token_frac,
       round(avg(dup_bigram_frac), 6) AS avg_dup_bigram_frac,
       CAST(sum(CASE WHEN top_token_frac > 0.2 OR dup_bigram_frac > 0.3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM per_doc
GROUP BY source
ORDER BY source
"""


@query(
    "text_repetition_signals",
    oracle=_repetition_sql("duck"),
    doc="Gopher-style repetition quality signals: top-token occupancy and "
    "duplicate-2-gram fraction per document via exploded grouped aggregates, "
    "flagged-document counts per source.",
    tags=("text", "extension"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    toks = T.tokens("text", "spark")
    tok_v = staged_view(
        spark, sf_dir, "repetition_tokens",
        lambda: sql_over(
            spark, sf_dir,
            f"SELECT doc_id, source, {toks} AS toks FROM documents",
            ("documents",),
        ),
    )
    return sql_over(
        spark, sf_dir,
        _repetition_sql("spark", tok_view=tok_v),
        ("documents",),
    )


MIXTURE_CAP_TOKENS = 20_000


def _mixture_sql(d: str) -> str:
    # Domain rebalancing: downsample each source to <= CAP tokens by keeping
    # docs whose portable-hash bucket falls under the per-source keep rate
    # (rate = CAP / source_tokens, capped at 1). Deterministic — the keep set
    # is a pure function of doc_id — so resumable and identical across
    # engines/cluster sizes. Shape: one small per-source aggregate broadcast
    # back onto the scan; the basis-point comparison is integer so no
    # float-boundary drift between engines.
    toks = T.tokens("text", d)
    h = T.hash60("CAST(doc_id AS STRING)", d)
    return f"""
WITH counted AS (
    SELECT source, doc_id, {T.array_size('toks', d)} AS n_tokens
    FROM (SELECT source, doc_id, {toks} AS toks FROM documents)
),
totals AS (
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
    FROM counted GROUP BY source
),
rated AS (
    SELECT source, src_tokens,
           CAST(floor(least(CAST(1 AS DOUBLE),
                CAST({MIXTURE_CAP_TOKENS} AS DOUBLE) / src_tokens) * 10000)
                AS BIGINT) AS keep_bp
    FROM totals
),
kept AS (
    SELECT c.source, r.src_tokens, r.keep_bp, c.n_tokens
    FROM counted c JOIN rated r ON c.source = r.source
    WHERE {h} % 10000 < r.keep_bp
)
SELECT source, src_tokens, keep_bp,
       count(*) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
FROM kept
GROUP BY source, src_tokens, keep_bp
ORDER BY source
"""


@query(
    "text_domain_mixture",
    oracle=_mixture_sql("duck"),
    doc="Deterministic domain rebalancing: per-source keep rate = cap / "
    "source_tokens applied via portable-hash basis-point buckets (integer "
    "compare, engine-stable); per-source kept doc/token counts.",
    tags=("text", "extension"),
)
def text_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _mixture_sql("spark"), ("documents",))


# --- PII scrubbing (pretraining-pipeline redaction pass) -------------------
#
# Standard redaction before training: emails, IPv4s, and phone-shaped digit
# runs replaced with typed placeholder tokens, entirely inside codegen
# regexp_replace (no UDF — this runs over every byte of a 100 TB corpus, so
# it must stay JVM-side and pipeline with the scan). Patterns are restricted
# to the Java-regex/RE2 common subset so the DuckDB oracle applies the exact
# same automaton. The fixture text contains no PII, so the query plants
# deterministic PII derived from doc_id and then proves the scrubber removes
# it byte-exactly.

# Bracket classes ([.], [+]) instead of backslash escapes: Spark string
# literals consume backslashes (escapedStringLiterals=false) while DuckDB
# keeps them — [.] parses identically in both engines' regex dialects.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PII_IP = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
_PII_PHONE = "[+]?[0-9]{3}-[0-9]{3,4}-[0-9]{4}"


def _pii_sql(dialect: str) -> str:
    # Spark regexp_replace is global by default; DuckDB needs the 'g' flag.
    def scrub(expr: str) -> str:
        email = f"regexp_replace({expr}, '{_PII_EMAIL}', '<EMAIL>'"
        email += ")" if dialect == "spark" else ", 'g')"
        ip = f"regexp_replace({email}, '{_PII_IP}', '<IP>'"
        ip += ")" if dialect == "spark" else ", 'g')"
        phone = f"regexp_replace({ip}, '{_PII_PHONE}', '<PHONE>'"
        phone += ")" if dialect == "spark" else ", 'g')"
        return phone

    s = "STRING" if dialect == "spark" else "VARCHAR"
    concat = (
        f"concat(text, ' reach user', CAST(doc_id AS {s}), "
        f"'@mail-', CAST(doc_id % 7 AS {s}), '.example.net or 10.0.', "
        f"CAST(doc_id % 256 AS {s}), '.', CAST(doc_id % 100 AS {s}), "
        f"' tel +', CAST(100 + doc_id % 900 AS {s}), '-555-', "
        f"CAST(1000 + doc_id % 9000 AS {s}))"
    )
    return f"""
SELECT doc_id,
       scrubbed,
       length(planted) - length(scrubbed) AS bytes_redacted,
       CAST(scrubbed LIKE '%<EMAIL>%' AND scrubbed LIKE '%<IP>%' AND scrubbed LIKE '%<PHONE>%' AS BOOLEAN) AS all_redacted,
       CAST(scrubbed NOT LIKE '%example.net%' AND scrubbed NOT LIKE '%555-%' AS BOOLEAN) AS clean
FROM (
    SELECT doc_id, planted, {scrub("planted")} AS scrubbed
    FROM (SELECT doc_id, {concat} AS planted FROM documents)
)
ORDER BY doc_id
"""


@query(
    "text_pii_scrub",
    oracle=_pii_sql("duck"),
    doc="PII redaction pass: email/IPv4/phone patterns replaced with typed "
    "placeholders via chained codegen regexp_replace (Java-regex/RE2 common "
    "subset; byte-exact vs the DuckDB oracle). Plants deterministic PII from "
    "doc_id, then proves removal.",
    tags=("text", "extension"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _pii_sql("spark"), ("documents",))


# --- boilerplate stripping (line-level dedup shape) ------------------------
#
# CCNet/Gopher-style line-level dedup: explode each doc into ordered units,
# count unit occurrences across the WHOLE corpus, drop units above a global
# frequency threshold, and reassemble the survivors in document order. The
# fixture text has no newlines, so the unit is a 3-token chunk (the plumbing
# — global frequency join + order-preserving reassembly — is identical to
# newline units). Reassembly sorts struct(chunk_idx, chunk) per doc, because
# collect_list order is shuffle-dependent; the DuckDB oracle uses
# string_agg(... ORDER BY) for the same guarantee.
#
# Scale: one explode (no row blowup beyond token count / unit size), one
# hash-agg for the frequency table, one equi-join back (AQE handles hot
# boilerplate chunks — the same skew story as hot shingles), one grouped
# reassembly. Nothing driver-side; text shuffles once, as (doc_id, chunk).

_BOILERPLATE_SPARK = """
WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id, chunk_idx, array_join(slice(w, chunk_idx * 3 + 1, 3), ' ') AS chunk
  FROM toks
  LATERAL VIEW explode(sequence(0, CAST(ceil(size(w) / 3.0) AS INT) - 1)) AS chunk_idx
),
freq AS (SELECT chunk, count(*) AS n_occ FROM chunks GROUP BY chunk),
kept AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk
  FROM chunks c JOIN freq f ON c.chunk = f.chunk
  WHERE f.n_occ <= 5
)
SELECT doc_id,
       array_join(transform(array_sort(collect_list(struct(chunk_idx, chunk))), s -> s.chunk), ' ') AS clean_text,
       count(*) AS kept_chunks
FROM kept GROUP BY doc_id ORDER BY doc_id
"""

_BOILERPLATE_DUCK = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id, u.chunk_idx,
         array_to_string(list_slice(w, u.chunk_idx * 3 + 1, u.chunk_idx * 3 + 3), ' ') AS chunk
  FROM toks, LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(w) / 3.0) AS INT) - 1)) AS chunk_idx) u
),
freq AS (SELECT chunk, count(*) AS n_occ FROM chunks GROUP BY chunk),
kept AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk
  FROM chunks c JOIN freq f ON c.chunk = f.chunk
  WHERE f.n_occ <= 5
)
SELECT doc_id,
       string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
       count(*) AS kept_chunks
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


@query(
    "text_boilerplate_strip",
    oracle=_BOILERPLATE_DUCK,
    doc="Line-level (chunk-unit) dedup: global unit-frequency table joined "
    "back to ordered units, over-threshold boilerplate dropped, survivors "
    "reassembled in document order via sorted struct collection (shuffle-"
    "order-proof). The CCNet/Gopher repeated-line removal pass.",
    tags=("text", "extension"),
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _BOILERPLATE_SPARK, ("documents",))


_CHUNK, _STRIDE = 30, 20  # tokens per chunk, stride (overlap = 10)


def _chunk_sql(d: str) -> str:
    toks = T.tokens("text", d)
    if d == "spark":
        sl = f"slice(t, chunk_id * {_STRIDE} + 1, {_CHUNK})"
    else:
        sl = f"list_slice(t, chunk_id * {_STRIDE} + 1, chunk_id * {_STRIDE} + {_CHUNK})"
    n_chunks = (
        f"CASE WHEN n <= {_CHUNK} THEN 1 "
        f"ELSE CAST(ceil((n - {_CHUNK}) / CAST({_STRIDE} AS DOUBLE)) AS INT) + 1 END"
    )
    if d == "spark":
        chunks = f"""
chunks AS (
    SELECT doc_id, n, explode(sequence(0, n_chunks - 1)) AS chunk_id, t
    FROM meta
)"""
    else:
        chunks = f"""
chunks AS (
    SELECT doc_id, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_id, t
    FROM meta
)"""
    size = T.array_size("ct", d)
    join = "array_join(ct, ' ')" if d == "spark" else "list_aggregate(ct, 'string_agg', ' ')"
    return f"""
WITH toks AS (
    SELECT doc_id, {toks} AS t FROM documents
),
meta AS (
    SELECT doc_id, t, {T.array_size("t", d)} AS n,
           {n_chunks} AS n_chunks
    FROM toks
),{chunks},
sliced AS (
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, {sl} AS ct FROM chunks
)
SELECT doc_id, chunk_id,
       CAST({size} AS INT) AS chunk_tokens,
       {join} AS chunk_text
FROM sliced
ORDER BY doc_id, chunk_id
"""


@query(
    "text_chunk_overlap",
    oracle=_chunk_sql("duck"),
    doc="Overlapping document chunking (the context-window preprocessing "
    "step every LLM training pipeline runs): tokenize once map-side, "
    "explode a per-doc chunk-index sequence, slice token windows of "
    f"{_CHUNK} with stride {_STRIDE}, reassemble chunk text. Pure codegen "
    "(explode+slice+array_join); rows scale as n_tokens/stride per doc with "
    "no shuffle before the final ordering; the oracle runs the identical "
    "windowing in DuckDB list algebra.",
    tags=("text",),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _chunk_sql("spark"), ("documents",))


def _stratified_sql(d: str) -> str:
    # Deterministic per-row keep decision: a portable multiplicative hash of
    # doc_id against a per-source rate — identical in both engines (exact
    # integer arithmetic, doc_id * 2654435761 < 2^63 at any realistic scale).
    rate = (
        "CASE CAST(substr(source, 4) AS INT) % 4 "
        "WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250 ELSE 100 END"
    )
    keep = f"(doc_id * 2654435761) % 1000 < {rate}"
    return f"""
WITH flagged AS (
    SELECT source, doc_id, ({keep}) AS kept FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM flagged
GROUP BY source
ORDER BY source
"""


@query(
    "text_stratified_sample",
    oracle=_stratified_sql("duck"),
    doc="Deterministic stratified sampling toward per-source mixture rates "
    "(domain re-weighting before training): keep decision is a portable "
    "multiplicative hash of doc_id vs a per-source permille rate — "
    "reproducible across engines/runs/partitionings unlike Bernoulli "
    "sampling, one map-side pass, aggregation shuffles only grouped "
    "scalars. kept_id_sum pins the exact kept SET, not just its size.",
    tags=("text",),
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _stratified_sql("spark"), ("documents",))


def _bigram_postings_sql(d: str) -> str:
    """The (doc, w1, bigram, n) posting table — tokenize + explode +
    pre-aggregate (VERDICT r9 next-round #5: one row per distinct in-doc
    bigram, not per occurrence, cutting the model joins' input by the
    within-doc duplication factor). The Spark side STAGES this as a
    persisted artifact: three consumers (model, ctx, scoring) would
    otherwise each recompute the tokenize pass through CTE inlining."""
    toks = T.tokens("text", d)
    if d == "spark":
        # the <2-token screen lives INSIDE tok_t, before the Generate:
        # sequence(1, size-1) on a short doc is a DESCENDING [1,0] and
        # element_at(toks, 0) throws under Spark 4 ANSI mode — correctness
        # must not depend on the optimizer pushing an outer filter below
        # the explode (ADVICE r9)
        tok_src = (
            f"SELECT doc_id, toks FROM (SELECT doc_id, {toks} AS toks FROM documents) "
            "WHERE size(toks) >= 2"
        )
        exploded = (
            "SELECT doc_id, element_at(toks, i) AS w1, "
            "element_at(toks, i) || ' ' || element_at(toks, i + 1) AS bigram "
            "FROM tok_t LATERAL VIEW explode(sequence(1, size(toks) - 1)) AS i"
        )
    else:
        tok_src = f"SELECT doc_id, {toks} AS toks FROM documents"
        exploded = (
            "SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bigram "
            "FROM tok_t, unnest(generate_series(1, len(toks) - 1)) AS t(i) "
            "WHERE len(toks) >= 2"
        )
    return f"""
WITH tok_t AS (
    {tok_src}
),
big AS (
    {exploded}
)
SELECT doc_id, w1, bigram, count(*) AS n
FROM big
GROUP BY doc_id, w1, bigram
"""


def _bigram_lm_sql(d: str, postings_view: str | None = None) -> str:
    # Corpus bigram language model + per-document fluency scoring — the
    # classic LM-based quality filter (CCNet/Gopher shape) expressed as
    # relational algebra: (1) the pre-aggregated posting table (see
    # _bigram_postings_sql; staged/persisted on the Spark side), (2) the
    # MODEL is ONE aggregation over the postings (bigram counts keyed by
    # (w1, bigram) — bigram determines w1, so the extra key is free) and
    # the unigram context counts then aggregate the MODEL, not the
    # postings (VERDICT r10 next-round #3: the model is vocab-bounded and
    # orders of magnitude smaller than the posting table, so deriving c1
    # from it removes the second full posting-table aggregation), (3)
    # score = per-doc n-weighted mean of the conditional probability
    # c12/c1 via two equi-joins back to the postings. The Spark side
    # BROADCAST-hints both model sides: the LM vocabulary is bounded by
    # design (CCNet/Gopher models cap it), so the hint holds at 100 TB
    # too — and it keeps the posting table un-shuffled through both joins.
    # Float discipline: p is ONE double division of two exact ints, rounded
    # then exactified to decimal before the per-doc mean (cross-row
    # summation order is partition-dependent), and the final corpus rollup
    # sums decimals again before one double division.
    # The staged view is referenced DIRECTLY in the FROM clauses, never
    # wrapped in a pass-through CTE: Spark resolves cached plans on the
    # analyzed tree but inlines WITH-CTEs later in the optimizer, so
    # `WITH bigc AS (SELECT * FROM staged_view)` misses the
    # InMemoryRelation and silently re-runs the tokenize pass per
    # consumer (found via the PQ plans, r11).
    if postings_view:
        src = postings_view
        bigc_cte = ""
    else:
        src = "bigc"
        bigc_cte = f"bigc AS (\n    {_bigram_postings_sql(d).strip()}\n),\n"
    hint = "/*+ BROADCAST(m), BROADCAST(u) */ " if d == "spark" else ""
    return f"""
WITH {bigc_cte}model AS (
    SELECT w1, bigram, CAST(sum(n) AS BIGINT) AS c12 FROM {src} GROUP BY w1, bigram
),
ctx AS (
    SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM model GROUP BY w1
),
scored AS (
    SELECT {hint}b.doc_id, b.n,
           CAST(round(CAST(m.c12 AS DOUBLE) / u.c1, 6) AS DECIMAL(18,6)) AS p
    FROM {src} b
    JOIN model m ON b.bigram = m.bigram
    JOIN ctx u ON b.w1 = u.w1
),
per_doc AS (
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           CAST(sum(p * n) AS DOUBLE) / sum(n) AS fluency
    FROM scored
    GROUP BY doc_id
)
SELECT CASE WHEN fluency >= 0.5 THEN 'high'
            WHEN fluency >= 0.2 THEN 'mid'
            ELSE 'low' END AS fluency_band,
       count(*) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
       CAST(round(CAST(sum(CAST(round(fluency, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS DOUBLE) AS avg_fluency
FROM per_doc
GROUP BY 1
ORDER BY fluency_band
"""


@query(
    "text_bigram_lm_score",
    oracle=_bigram_lm_sql("duck"),
    doc="Bigram language-model fluency scoring (the CCNet/Gopher LM quality "
    "filter as relational algebra): postings pre-aggregate to "
    "(doc, w1, bigram, n) so the model aggregations and both scoring "
    "equi-joins process distinct in-doc bigrams, not occurrences; the "
    "per-doc mean is the exact n-weighted mean. Banded into high/mid/low. "
    "No Python anywhere; conditional probabilities exactified to decimal "
    "before cross-row means.",
    tags=("text", "extension"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    bigc_v = staged_view(
        spark, sf_dir, "bigram_postings",
        lambda: sql_over(spark, sf_dir, _bigram_postings_sql("spark"), ("documents",)),
    )
    return sql_over(
        spark, sf_dir,
        _bigram_lm_sql("spark", postings_view=bigc_v),
        ("documents",),
    )


def _vocab_coverage_sql(d: str, vocab_view: str | None = None) -> str:
    # Tokenizer-design statistic: what fraction of corpus TOKEN MASS the
    # top-N vocabulary covers, at N = 100 / 500 / 2000. Scale shape: the
    # frequency ranking is a distributed top-K (ORDER BY + LIMIT lowers to
    # TakeOrderedAndProject — per-partition partial top-k, no global sort),
    # so the ONLY windowed cumsum runs over the bounded 2000-row head —
    # never a single-partition window over the whole vocabulary (at 100 TB
    # the vocab can be ~1e8 rows; a global-order window there is the
    # classic scale-killer). The corpus total comes from a separate scalar
    # aggregate. Ties broken (count DESC, token ASC) — a total order, so
    # the curve is deterministic. Integers until the final division.
    toks = T.tokens("text", d)
    if d == "spark":
        exploded = "SELECT tok FROM tok_t LATERAL VIEW explode(toks) AS tok"
    else:
        exploded = "SELECT unnest(toks) AS tok FROM tok_t"
    # staged-view path: vocab feeds BOTH the top-K head and the corpus
    # total — unstaged, the tokenize+explode+count pass runs twice (see
    # _bigram_lm_sql for why a pass-through CTE would not help)
    src = vocab_view or "vocab"
    vocab_ctes = "" if vocab_view else f"""tok_t AS (
    SELECT doc_id, {toks} AS toks FROM documents
),
flat AS (
    {exploded}
),
vocab AS (
    SELECT tok, count(*) AS c FROM flat GROUP BY tok
),
"""
    return f"""
WITH {vocab_ctes}head AS (
    SELECT tok, c FROM {src} ORDER BY c DESC, tok ASC LIMIT 2000
),
ranked AS (
    SELECT c,
           row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk,
           sum(c) OVER (ORDER BY c DESC, tok ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM head
),
total_t AS (
    SELECT CAST(sum(c) AS BIGINT) AS total FROM {src}
)
SELECT CAST(n AS BIGINT) AS top_n,
       CAST(max(CASE WHEN rnk <= n THEN cum ELSE 0 END) AS BIGINT)
           AS covered_tokens,
       CAST(max(total) AS BIGINT) AS total_tokens,
       round(CAST(max(CASE WHEN rnk <= n THEN cum ELSE 0 END) AS DOUBLE)
             / max(total), 6) AS coverage
FROM ranked
CROSS JOIN total_t
CROSS JOIN (SELECT 100 AS n UNION ALL SELECT 500 UNION ALL SELECT 2000) t
GROUP BY n
ORDER BY top_n
"""


@query(
    "text_vocab_coverage",
    oracle=_vocab_coverage_sql("duck"),
    doc="Vocabulary coverage curve (tokenizer design): fraction of corpus "
    "token mass covered by the top-N words at N=100/500/2000 — word "
    "counts (vocab-bounded aggregation), a total-order frequency ranking "
    "with a window cumsum, three threshold probes. Integers end-to-end "
    "until one final division.",
    tags=("text", "extension"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    toks = T.tokens("text", "spark")
    vocab_v = staged_view(
        spark, sf_dir, "vocab_counts",
        lambda: sql_over(
            spark, sf_dir,
            f"SELECT tok, count(*) AS c FROM (SELECT doc_id, {toks} AS toks "
            "FROM documents) t LATERAL VIEW explode(toks) AS tok GROUP BY tok",
            ("documents",),
        ),
    )
    return sql_over(
        spark, sf_dir,
        _vocab_coverage_sql("spark", vocab_view=vocab_v),
        ("documents",),
    )


def _zipf_sql(d: str) -> str:
    # Zipf's-law fit over the word-frequency distribution: OLS slope and
    # intercept of ln(freq) against ln(rank) via the regr_* aggregate
    # family (the reference's VarianceAggregation.java machinery) — a
    # natural-corpus slope sits near -1. Log inputs are rounded to 9
    # decimals BEFORE the regression so a <=1-ULP engine difference in
    # ln() cannot drift the accumulators; outputs rounded to 4.
    toks = T.tokens("text", d)
    if d == "spark":
        exploded = "SELECT tok FROM tok_t LATERAL VIEW explode(toks) AS tok"
    else:
        exploded = "SELECT unnest(toks) AS tok FROM tok_t"
    return f"""
WITH tok_t AS (
    SELECT doc_id, {toks} AS toks FROM documents
),
flat AS (
    {exploded}
),
vocab AS (
    SELECT tok, count(*) AS c FROM flat GROUP BY tok
),
head AS (
    -- fit the distribution HEAD (standard Zipf practice) so the ranking
    -- is a distributed top-K, never a global-order window over the vocab
    SELECT tok, c FROM vocab ORDER BY c DESC, tok ASC LIMIT 5000
),
ranked AS (
    SELECT CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE) AS rnk,
           CAST(c AS DOUBLE) AS freq
    FROM head
)
SELECT CAST(count(*) AS BIGINT) AS n_fitted,
       round(regr_slope(round(ln(freq), 9), round(ln(rnk), 9)), 4) AS zipf_slope,
       round(regr_intercept(round(ln(freq), 9), round(ln(rnk), 9)), 4)
           AS zipf_intercept,
       CAST(regr_slope(round(ln(freq), 9), round(ln(rnk), 9)) < 0 AS BOOLEAN)
           AS decreasing
FROM ranked
"""


@query(
    "text_zipf_fit",
    oracle=_zipf_sql("duck"),
    doc="Zipf's-law fit over the corpus word-frequency distribution: OLS "
    "of ln(freq) on ln(rank) via regr_slope/regr_intercept over a "
    "total-order ranking; log inputs rounded before the accumulators so "
    "ULP-level ln() differences cannot drift the regression.",
    tags=("text", "extension"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over(spark, sf_dir, _zipf_sql("spark"), ("documents",))


def _bm25_sql(d: str, tok_view: str | None = None) -> str:
    # BM25 retrieval as relational algebra (Robertson/Sparck Jones; the
    # Lucene practical form with k1=1.2, b=0.75): the classic quality
    # probe for a training-corpus search index. Scale shape: the corpus
    # stats are one scalar aggregate; term frequencies are an exploded
    # grouped aggregate (map-side combined) over ONLY the probe terms
    # (the IN filter prunes before the shuffle); document frequencies
    # aggregate the tiny tf table; the final ranking is ORDER BY + LIMIT
    # -> TakeOrderedAndProject (distributed top-k, never a global sort).
    # Float discipline: each per-term score is one deterministic double
    # expression rounded and exactified to DECIMAL(18,9), summed exactly
    # (order-independent), then rounded once for output.
    toks = T.tokens("text", d)
    # tok_src: the staged token table is referenced directly (a
    # pass-through CTE would miss Spark's cache — see _bigram_lm_sql);
    # tok_t feeds lens AND flat, and lens feeds corpus AND term_scores,
    # so without staging the tokenize pass runs three times.
    if tok_view:
        tok_src = tok_view
        tok_cte = ""
    else:
        tok_src = "tok_t"
        tok_cte = f"""tok_t AS (
    SELECT doc_id, {toks} AS toks FROM documents
),
"""
    if d == "spark":
        flat = (
            f"SELECT doc_id, tok FROM {tok_src} LATERAL VIEW explode(toks) AS tok"
        )
        dl = "size(toks)"
    else:
        flat = f"SELECT doc_id, unnest(toks) AS tok FROM {tok_src}"
        dl = "len(toks)"
    return f"""
WITH {tok_cte}lens AS (
    SELECT doc_id, CAST({dl} AS BIGINT) AS dl FROM {tok_src}
),
corpus AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM lens
),
flat AS (
    {flat}
),
tf AS (
    SELECT doc_id, tok, count(*) AS tf
    FROM flat
    WHERE tok IN ('spark', 'merge', 'window')
    GROUP BY doc_id, tok
),
df AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
),
term_scores AS (
    SELECT t.doc_id,
           CAST(round(
               ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl)),
               9) AS DECIMAL(18,9)) AS s
    FROM tf t
    JOIN df f ON t.tok = f.tok
    JOIN lens l ON t.doc_id = l.doc_id
    CROSS JOIN corpus c
),
ranked AS (
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_terms,
           CAST(round(CAST(sum(s) AS DOUBLE), 6) AS DOUBLE) AS bm25
    FROM term_scores
    GROUP BY doc_id
)
SELECT doc_id, n_terms, bm25
FROM ranked
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@query(
    "text_bm25_retrieval",
    oracle=_bm25_sql("duck"),
    doc="BM25 top-k retrieval as relational algebra (NEW r10 — the classic "
    "corpus search probe a training-data pipeline runs for "
    "decontamination audits and quality spot-checks): corpus stats are "
    "one scalar aggregate, term frequencies an exploded grouped "
    "aggregate pruned to the probe terms BEFORE the shuffle, document "
    "frequencies aggregate the tiny tf table, and the ranking lowers to "
    "TakeOrderedAndProject (distributed top-k — pinned in "
    "test_plan_shapes). Per-term scores are exactified to decimal before "
    "the order-independent sum.",
    tags=("text", "extension"),
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    toks = T.tokens("text", "spark")
    tok_v = staged_view(
        spark, sf_dir, "bm25_tokens",
        lambda: sql_over(
            spark, sf_dir,
            f"SELECT doc_id, {toks} AS toks FROM documents",
            ("documents",),
        ),
    )
    return sql_over(
        spark, sf_dir, _bm25_sql("spark", tok_view=tok_v), ("documents",)
    )


def _nb_classifier_sql(d: str, flat_view: str | None = None) -> str:
    # Hashed-feature multinomial Naive Bayes (the fastText-style linear
    # text classifier as PURE relational algebra — NEW r10): train on the
    # deterministic 80% doc_id-hash split, score the 20% holdout, report
    # the confusion matrix. The MODEL is a bounded (lang x 1024-bucket)
    # grid of Laplace-smoothed log-probabilities — two vocab-bounded
    # aggregations left-joined onto the grid, orders of magnitude smaller
    # than the corpus. Scoring is one equi-join of the holdout's hashed
    # postings to the model on the bucket key (shuffle-equi at 100 TB),
    # one grouped sum per (doc, lang), and an EXACT decimal argmax (max
    # score per doc, then max lang among exact-equal maxima — no window,
    # no nondeterministic arg_max). Every log term is rounded and
    # exactified to DECIMAL(18,9) so cross-row sums are order-independent.
    # Spark INLINES CTEs (N consumers = N computations): the postings CTE
    # feeds three aggregations, so the Spark side stages it as a PERSISTED
    # artifact and passes its view name via ``flat_view`` (the minhash
    # signature-table discipline, operators/staging.py); tok_t then drops
    # the tokenize work entirely. DuckDB materializes CTEs, so the oracle
    # keeps the single-statement form.
    bucket = T.hash60("tok", d) + " % 1024"
    if flat_view:
        tok_t = (
            "SELECT doc_id, lang, ((doc_id * 2654435761) % 10 < 8) AS is_train "
            "FROM documents"
        )
        flat = f"SELECT * FROM {flat_view}"
    elif d == "spark":
        toks = T.tokens("text", d)
        tok_t = (
            "SELECT doc_id, lang, ((doc_id * 2654435761) % 10 < 8) AS is_train, "
            f"{toks} AS toks FROM documents"
        )
        flat = (
            "SELECT doc_id, lang, is_train, "
            f"{bucket} AS bkt "
            "FROM tok_t LATERAL VIEW explode(toks) AS tok"
        )
    else:
        toks = T.tokens("text", d)
        tok_t = (
            "SELECT doc_id, lang, ((doc_id * 2654435761) % 10 < 8) AS is_train, "
            f"{toks} AS toks FROM documents"
        )
        flat = (
            "SELECT doc_id, lang, is_train, "
            f"{bucket} AS bkt "
            "FROM tok_t, unnest(toks) AS u(tok)"
        )
    # flat_src: the staged view is referenced directly (pass-through CTEs
    # miss Spark's cache — see _bigram_lm_sql)
    if flat_view:
        flat_src = flat_view
        flat_cte = ""
    else:
        flat_src = "flat"
        flat_cte = f"""flat AS (
    {flat}
),
"""
    # Argmax over scores: the oracle's spelling (max s per doc, join back,
    # max lang among exact-equal maxima) references `scores` TWICE; Spark
    # inlines CTEs, so the whole test_postings x model join + grouped
    # decimal sum ran twice (plan ops 1-52 duplicated as 54-108 — measured
    # 1.65 s, OPTIMIZATION r15, guide §2.4/§7.2 "duplicated subtrees").
    # max(struct(s, lang)) is the identical semantic in ONE pass: struct
    # comparison is field-lexicographic, so it picks max s first, then max
    # lang among rows whose exact DECIMAL s ties — no doubles, no
    # nondeterminism. DuckDB materializes CTEs, so the oracle keeps the
    # two-reference spelling unchanged.
    if d == "spark":
        argmax = """pred AS (
    SELECT doc_id, labeled_lang,
           max(named_struct('s', s, 'lang', lang)).lang AS predicted_lang
    FROM scores
    GROUP BY doc_id, labeled_lang
)"""
    else:
        argmax = """best AS (
    SELECT doc_id, max(s) AS mx FROM scores GROUP BY doc_id
),
pred AS (
    SELECT s.doc_id, s.labeled_lang, max(s.lang) AS predicted_lang
    FROM scores s
    JOIN best b ON s.doc_id = b.doc_id AND s.s = b.mx
    GROUP BY s.doc_id, s.labeled_lang
)"""
    return f"""
WITH tok_t AS (
    {tok_t}
),
{flat_cte}langs AS (
    SELECT DISTINCT lang FROM tok_t
),
buckets AS (
    SELECT CAST(i AS BIGINT) AS bkt
    FROM {"(SELECT explode(sequence(0, 1023)) AS i)" if d == "spark" else "(SELECT unnest(generate_series(0, 1023)) AS i)"} g
),
train_counts AS (
    SELECT lang, bkt, count(*) AS c
    FROM {flat_src} WHERE is_train
    GROUP BY lang, bkt
),
train_totals AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS total
    FROM {flat_src} WHERE is_train
    GROUP BY lang
),
priors AS (
    SELECT lang,
           CAST(round(ln(CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM tok_t WHERE is_train)), 9)
               AS DECIMAL(18,9)) AS prior
    FROM tok_t WHERE is_train
    GROUP BY lang
),
model AS (
    SELECT l.lang, b.bkt,
           CAST(round(ln((COALESCE(tc.c, 0) + 1.0) / (tt.total + 1024.0)), 9)
               AS DECIMAL(18,9)) AS logp
    FROM langs l
    CROSS JOIN buckets b
    JOIN train_totals tt ON tt.lang = l.lang
    LEFT JOIN train_counts tc ON tc.lang = l.lang AND tc.bkt = b.bkt
),
test_postings AS (
    SELECT doc_id, lang AS labeled_lang, bkt, count(*) AS n
    FROM {flat_src} WHERE NOT is_train
    GROUP BY doc_id, lang, bkt
),
scores AS (
    SELECT tp.doc_id, tp.labeled_lang, m.lang,
           CAST(sum(m.logp * tp.n) AS DECIMAL(28,9)) + p.prior AS s
    FROM test_postings tp
    JOIN model m ON m.bkt = tp.bkt
    JOIN priors p ON p.lang = m.lang
    GROUP BY tp.doc_id, tp.labeled_lang, m.lang, p.prior
),
{argmax}
SELECT labeled_lang, predicted_lang, count(*) AS n_docs
FROM pred
GROUP BY labeled_lang, predicted_lang
ORDER BY labeled_lang, predicted_lang
"""


@query(
    "text_hashed_nb_classifier",
    oracle=_nb_classifier_sql("duck"),
    doc="Hashed-feature multinomial Naive Bayes text classifier (NEW r10 — "
    "the fastText-style linear quality/domain classifier every corpus "
    "pipeline trains, as pure relational algebra): deterministic 80/20 "
    "doc_id-hash split, model = a bounded lang x 1024-bucket grid of "
    "Laplace-smoothed decimal log-probs (two vocab-bounded aggregations), "
    "scoring = one bucket-key equi-join + grouped decimal sums, argmax = "
    "exact decimal max-then-max (no windows, no nondeterministic "
    "arg_max). Reports the holdout confusion matrix.",
    tags=("text", "extension", "ml"),
)
def text_hashed_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import staged_view

    flat_v = staged_view(
        spark, sf_dir, "nb_flat_postings",
        lambda: sql_over(spark, sf_dir, _nb_flat_sql(), ("documents",)),
    )
    return sql_over(
        spark, sf_dir,
        _nb_classifier_sql("spark", flat_view=flat_v),
        ("documents",),
    )


def _nb_flat_sql() -> str:
    """The staged Spark-side postings: one tokenize+explode+hash pass,
    persisted and reused by every consumer aggregation."""
    toks = T.tokens("text", "spark")
    bucket = T.hash60("tok", "spark") + " % 1024"
    return f"""
WITH tok_t AS (
    SELECT doc_id, lang, ((doc_id * 2654435761) % 10 < 8) AS is_train,
           {toks} AS toks
    FROM documents
)
SELECT doc_id, lang, is_train, {bucket} AS bkt
FROM tok_t LATERAL VIEW explode(toks) AS tok
"""


# --- BPE pair-merge training (r11) -------------------------------------------
# The byte-pair-encoding TRAINING step — the core of how LLM tokenizers
# (GPT-2/SentencePiece-BPE) are built — expressed as pure relational
# algebra over the corpus, three merge rounds unrolled:
#   round k: (1) count adjacent token pairs corpus-wide (explode + one
#   hash aggregation with map-side combine), (2) pick the most frequent
#   pair with an EXACT deterministic tie-break (ORDER BY count DESC,
#   pair lexicographic LIMIT 1 — a 1-row global top-1, lowered to
#   TakeOrderedAndProject), (3) apply the merge to every document with a
#   literal string replace (map-side, zero shuffle).
# Documents are carried as boundary-safe token strings "|tok1 |tok2 ... "
# — each token prefixed by '|' and suffixed by ' ', so the merge pattern
# "|a |b " consumes its own delimiters and left-to-right non-overlapping
# replace() IS greedy BPE application; no token boundary is ever shared
# between adjacent matches. Token counts after each round are the number
# of '|' markers — a length difference, no re-tokenization.
# Scale: each round is one linear corpus pass + a vocab-bounded pair
# aggregation + a 1-row broadcast; the merge table (the model) is K rows.
# At 100 TB the pair aggregation shuffles (tok,tok) keys with partial
# aggregation — bounded by vocab², in practice by live pair count — and
# the replace pass is embarrassingly parallel. The Spark side stages each
# round's merged strings (persisted once), since three consumers (next
# round's pair count, the token count, the next merge) would otherwise
# re-run the whole chain through CTE inlining.
# Reference: beyond parity — the reference has no tokenizer-training
# surface; this is the LLM-data-pipeline extension family.


def _bpe_s0_sql(d: str) -> str:
    toks = T.tokens("text", d)
    if d == "spark":
        return f"""
SELECT doc_id, concat('|', array_join(toks, ' |'), ' ') AS s
FROM (SELECT doc_id, {toks} AS toks FROM documents)
WHERE size(toks) >= 1
"""
    return f"""
SELECT doc_id, '|' || array_to_string(toks, ' |') || ' ' AS s
FROM (SELECT doc_id, {toks} AS toks FROM documents)
WHERE len(toks) >= 1
"""


def _bpe_best_sql(d: str, view: str) -> str:
    """Top-1 adjacent pair of the round: exact count, deterministic
    lexicographic tie-break."""
    if d == "spark":
        return f"""
SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
FROM (
    SELECT element_at(e, i) AS w1, element_at(e, i + 1) AS w2
    FROM (
        SELECT e FROM (SELECT filter(split(s, ' '), x -> x <> '') AS e FROM {view})
        WHERE size(e) >= 2
    ) t LATERAL VIEW explode(sequence(1, size(e) - 1)) AS i
) p
GROUP BY w1, w2
ORDER BY c DESC, w1, w2
LIMIT 1
"""
    return f"""
SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
FROM (
    SELECT e[i] AS w1, e[i + 1] AS w2
    FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS e FROM {view}) t,
         unnest(generate_series(1, len(e) - 1)) AS u(i)
    WHERE len(e) >= 2
) p
GROUP BY w1, w2
ORDER BY c DESC, w1, w2
LIMIT 1
"""


_BPE_ROUNDS = 3


def _bpe_oracle_sql() -> str:
    """The full 3-round chain as one DuckDB query (CTE per round)."""
    parts = [f"WITH s0 AS ({_bpe_s0_sql('duck').strip()})"]
    for k in range(1, _BPE_ROUNDS + 1):
        best = _bpe_best_sql("duck", f"s{k - 1}").strip()
        parts.append(f"b{k} AS ({best})")
        parts.append(
            f"s{k} AS (SELECT doc_id, "
            f"replace(s, w1 || ' ' || w2 || ' ', w1 || substr(w2, 2) || ' ') AS s "
            f"FROM s{k - 1}, b{k})"
        )
        parts.append(
            f"t{k} AS (SELECT CAST(SUM(length(s) - length(replace(s, '|', ''))) AS BIGINT) AS n "
            f"FROM s{k})"
        )
    selects = [
        f"SELECT {k} AS round, substr(w1, 2) || '+' || substr(w2, 2) AS merged_pair, "
        f"c AS pair_count, (SELECT n FROM t{k}) AS tokens_after FROM b{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round"


@query(
    "text_bpe_merge_train",
    oracle=_bpe_oracle_sql(),
    doc="BPE tokenizer TRAINING (three merge rounds) as relational algebra: "
    "per round, one corpus-wide adjacent-pair aggregation (map-side "
    "combine), an exact top-1 merge pick (count DESC, lexicographic "
    "tie-break), and a boundary-safe literal replace applied map-side to "
    "every document — left-to-right non-overlapping replace() IS greedy "
    "BPE because every token carries its own '|'/' ' delimiters. The "
    "merged strings are staged per round (three consumers each). Exact "
    "integer counts end-to-end; DuckDB replays the identical chain.",
    tags=("text", "extension"),
)
def text_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.staging import dir_digest, staged

    cur = staged(
        spark, sf_dir, "bpe_s0",
        lambda: sql_over(spark, sf_dir, _bpe_s0_sql("spark"), ("documents",)),
    )
    rounds = []
    for k in range(1, _BPE_ROUNDS + 1):
        # sf_dir-scoped view name (ADVICE r11: fixed global names race
        # across concurrent scale dirs)
        view = f"bpe_s{k - 1}_{dir_digest(sf_dir)}"
        cur.createOrReplaceTempView(view)
        best = spark.sql(_bpe_best_sql("spark", view))  # 1-row top-1
        prev = cur

        def build_next(prev=prev, best=best):
            return prev.crossJoin(F.broadcast(best)).select(
                "doc_id",
                F.expr(
                    "replace(s, w1 || ' ' || w2 || ' ', w1 || substr(w2, 2) || ' ')"
                ).alias("s"),
            )

        cur = staged(spark, sf_dir, f"bpe_s{k}", build_next)
        tokens_after = cur.agg(
            F.sum(F.length("s") - F.length(F.replace(F.col("s"), F.lit("|"))))
            .cast("bigint")
            .alias("tokens_after")
        )
        rounds.append(
            best.select(
                F.lit(k).cast("int").alias("round"),
                F.concat(
                    F.expr("substr(w1, 2)"), F.lit("+"), F.expr("substr(w2, 2)")
                ).alias("merged_pair"),
                F.col("c").alias("pair_count"),
            ).crossJoin(F.broadcast(tokens_after))
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")
