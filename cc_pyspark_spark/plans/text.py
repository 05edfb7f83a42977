"""Text-analysis queries over `documents` (word_count parity + LLM-pipeline ops).

`text_word_count_tfdf` is the DataFrame re-expression of the
reference's word_count job (word_count.py:16-39): the per-document
`collections.Counter` pre-aggregation + `(tf, df)` tuple monoid becomes
explode → two-level hash aggregation, with Catalyst's partial
aggregation playing the role of the map-side combine.

The rest are beyond-reference text operators for training-data
pipelines: token stats, quality scoring, language-ID heuristic, content
fingerprinting. All pure column expressions (whole-stage codegen), no
Python UDFs — that is the 100 TB design constraint.
"""

from __future__ import annotations

from cc_pyspark_spark.caching import track_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_pyspark_spark.catalog import Catalog
from cc_pyspark_spark.functions.text import TOKEN_PATTERN, shingles, tokenize
from cc_pyspark_spark.operators.adaptive import iterate
from cc_pyspark_spark.plans.registry import register

#: Deterministic language-marker sets (heuristic n-gram-style language
#: ID over the fixture vocabulary). Priority order breaks score ties.
LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "scan", "join")),
    ("es", ("order", "table")),
    ("de", ("window", "hash")),
    ("fr", ("merge", "sort")),
    ("zh", ("stream", "batch")),
)

STOPWORDS = ("the", "and", "of", "to", "a", "in")

_DUCK_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"


def _lang_case(score_col: dict[str, str]) -> str:
    """Chained CASE picking the highest-scoring language; earlier
    branches win ties, giving a total deterministic order. The same SQL
    text runs in Spark (F.expr) and DuckDB."""
    langs = [lang for lang, _ in LANG_MARKERS]
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"{score_col[lang]} >= {score_col[other]}" for other in langs[i + 1 :]
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"


def lang_id_col(text_col) -> F.Column:
    """Reusable lang_pred column (same scoring + tie-break as the
    text_lang_id oracle query) for pipelines like warc_to_documents."""
    toks = tokenize(text_col)
    langs = [lang for lang, _ in LANG_MARKERS]

    def marker_count(words):
        ws = list(words)  # capture per language; HOF lambdas are 1-arg
        return F.size(F.filter(toks, lambda t: t.isin(ws)))

    scores = [marker_count(words) for _, words in LANG_MARKERS]
    result = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = scores[i] >= scores[j]
            cond = c if cond is None else (cond & c)
        result = F.when(cond, F.lit(langs[i])).otherwise(result)
    return result


def quality_ok_col(text_col) -> F.Column:
    """Reusable 0/1 quality gate (token count + stopword-ratio bounds,
    same thresholds as the text_quality_score oracle query)."""
    toks = tokenize(text_col)
    n_tokens = F.size(toks).cast("bigint")
    stop_cnt = F.size(F.filter(toks, lambda t: t.isin(list(STOPWORDS))))
    stop_ratio = stop_cnt * F.lit(1.0) / n_tokens
    return (
        F.when((n_tokens >= 5) & (n_tokens <= 10000) & (stop_ratio <= 0.5), 1)
        .otherwise(0)
        .cast("bigint")
    )


@register(
    "text_word_count_tfdf",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS word FROM documents
), per_doc AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
)
SELECT word, CAST(SUM(cnt) AS BIGINT) AS tf, COUNT(*) AS df
FROM per_doc GROUP BY word
""",
    description="A2/A3/F1: term frequency + document frequency in one pass "
    "(word_count.py tf/df monoid as two-level hash agg)",
    tags=("text", "agg", "bench"),
)
def text_word_count_tfdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(tokenize("text")).alias("word")
    )
    per_doc = toks.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    return per_doc.groupBy("word").agg(
        F.sum("cnt").cast("bigint").alias("tf"), F.count("*").alias("df")
    )


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_DUCK_TOKS})) AS BIGINT) AS n_uniq,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    description="Token counting (whitespace/regex tokenizer) per document",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tokenize("text"))).cast("bigint").alias("n_uniq"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


_STOP_LIST_SPARK = ", ".join(f"'{w}'" for w in STOPWORDS)
_STOP_LIST_DUCK = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality_score",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         {_DUCK_TOKS} AS toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT)
           AS n_word_chars
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       n_chars,
       len(list_filter(toks, t -> list_contains([{_STOP_LIST_DUCK}], t))) * 1.0
         / len(toks) AS stop_ratio,
       n_word_chars * 1.0 / n_chars AS word_char_ratio,
       CAST(CASE WHEN len(toks) >= 5 AND len(toks) <= 10000
                  AND len(list_filter(toks, t -> list_contains([{_STOP_LIST_DUCK}], t))) * 1.0
                      / len(toks) <= 0.5
            THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
FROM base
""",
    description="Quality scoring: length / stopword-ratio / word-char-ratio "
    "heuristics per document (training-data filtering)",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        tokenize("text").alias("toks"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.length(F.expr("regexp_replace(lower(text), '[^a-z0-9]', '')"))
        .cast("bigint")
        .alias("n_word_chars"),
    )
    stop_cnt = F.expr(
        f"size(filter(toks, t -> array_contains(array({_STOP_LIST_SPARK}), t)))"
    )
    n_tokens = F.size("toks").cast("bigint")
    stop_ratio = stop_cnt * F.lit(1.0) / n_tokens
    return base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        "n_chars",
        stop_ratio.alias("stop_ratio"),
        (F.col("n_word_chars") * 1.0 / F.col("n_chars")).alias("word_char_ratio"),
        F.when(
            (n_tokens >= 5) & (n_tokens <= 10000) & (stop_ratio <= 0.5), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("quality_ok"),
    )


def _duck_lang_oracle() -> str:
    score_exprs = {
        lang: f"len(list_filter(toks, t -> list_contains([{', '.join(repr(w) for w in words)}], t)))"
        for lang, words in LANG_MARKERS
    }
    scored = ", ".join(f"{e} AS s_{lang}" for lang, e in score_exprs.items())
    case = _lang_case({lang: f"s_{lang}" for lang, _ in LANG_MARKERS})
    greatest = ", ".join(f"s_{lang}" for lang, _ in LANG_MARKERS)
    return f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
scored AS (SELECT doc_id, {scored} FROM base)
SELECT doc_id, {case} AS lang_pred,
       CAST(greatest({greatest}) AS BIGINT) AS lang_score
FROM scored
"""


@register(
    "text_lang_id",
    oracle=_duck_lang_oracle(),
    description="Language-ID heuristic: marker-word scoring with "
    "deterministic tie-break (n-gram language detection analog)",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    base = t.documents.select("doc_id", tokenize("text").alias("toks"))
    scored = base
    for lang, words in LANG_MARKERS:
        lst = ", ".join(f"'{w}'" for w in words)
        scored = scored.withColumn(
            f"s_{lang}",
            F.expr(f"size(filter(toks, t -> array_contains(array({lst}), t)))"),
        )
    case = _lang_case({lang: f"s_{lang}" for lang, _ in LANG_MARKERS})
    greatest = ", ".join(f"s_{lang}" for lang, _ in LANG_MARKERS)
    return scored.select(
        "doc_id",
        F.expr(case).alias("lang_pred"),
        F.expr(f"greatest({greatest})").cast("bigint").alias("lang_score"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp_md5,
       sha256(array_to_string({_DUCK_TOKS}, ' ')) AS fp_sha256
FROM documents
""",
    description="F15 analog + dedup key: content fingerprint of the "
    "token-normalized document (md5/sha256, F.md5/F.sha2 JVM-side)",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    norm = F.array_join(tokenize("text"), " ")
    return t.documents.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fp_md5"),
        F.sha2(norm.cast("binary"), 256).alias("fp_sha256"),
    )


@register(
    "url_host_reverse",
    oracle="""
WITH h AS (
  SELECT c_custkey,
         'www.' || lower(replace(c_name, '#', '-')) || '.example.com' AS host
  FROM customer
)
SELECT c_custkey, host,
       array_to_string(list_reverse(string_split(host, '.')), '.') AS rev_host,
       array_to_string(list_reverse(string_split(
           regexp_replace(host, '^www\\.', ''), '.')), '.') AS surt_host
FROM h
""",
    description="F8/F7: host reversal + www-strip SURT key "
    "(hostlinks_to_graph.py:42-46, wat_extract_links.py:344-407) as pure "
    "column expressions over synthesized hostnames",
    tags=("text", "url"),
)
def url_host_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    h = t.customer.select(
        "c_custkey",
        F.concat(
            F.lit("www."),
            F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("-"))),
            F.lit(".example.com"),
        ).alias("host"),
    )
    rev = F.concat_ws(".", F.reverse(F.split(F.col("host"), "[.]")))
    surt = F.concat_ws(
        ".",
        F.reverse(F.split(F.regexp_replace(F.col("host"), r"^www\.", ""), "[.]")),
    )
    return h.select(
        "c_custkey", "host", rev.alias("rev_host"), surt.alias("surt_host")
    )


ROLL_P = 1_000_000_007


@register(
    "text_rolling_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks,
         t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(t) + 1),
                               i -> ascii(substr(t, i, 1)))),
              (a, c) -> (a * 131 + c) % {ROLL_P}))),
         (acc, h) -> (acc * 31 + h) % {ROLL_P}) AS fp
FROM t
""",
    description="Rolling polynomial fingerprint (char-level fold per token, "
    "token-level fold per doc) — order-sensitive content hash computed "
    "entirely in Catalyst higher-order functions",
    tags=("text", "dedup"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    fp = (
        "aggregate(toks, 0L, (acc, t) -> (acc * 31 + "
        "aggregate(sequence(1, length(t)), 0L, "
        f"(a, i) -> (a * 131 + ascii(substr(t, i, 1))) % {ROLL_P})"
        f") % {ROLL_P})"
    )
    return t.documents.select(
        "doc_id", tokenize("text").alias("toks")
    ).select("doc_id", F.expr(fp).alias("fp"))


@register(
    "text_bigram_counts",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t
)
SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
HAVING COUNT(*) >= 5
""",
    description="Word bigram counts (n-gram extraction) with HAVING filter — "
    "collocation mining over the corpus, pure Catalyst",
    tags=("text",),
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return (
        t.documents.select(tokenize("text").alias("toks"))
        .select(F.explode(shingles("toks", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
    )


@register(
    "text_top_terms_tfidf",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS word FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         tf.tf * (n.n_docs - df.df + 0.5) / (df.df + 0.5) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT doc_id, word, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, word) AS rnk
  FROM scored
)
SELECT doc_id, word, score, rnk FROM ranked WHERE rnk <= 3
""",
    description="Top-3 salient terms per document by tf x rational idf "
    "(BM25-style (N-df+0.5)/(df+0.5) — log-free so the oracle is "
    "bit-exact; ln() differs by 1 ulp across engines)",
    tags=("text", "bench"),
)
def text_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Catalog(spark, sf_dir)
    toks = t.documents.select("doc_id", F.explode(tokenize("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = toks.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = t.documents.count()  # scalar; tiny driver-side count
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        (
            F.col("tf") * (F.lit(float(n_docs)) - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "score", "rnk")
    )


def _duck_tld_oracle() -> str:
    from cc_pyspark_spark.functions.iana_tlds import IANA_TLDS

    tld_list = ", ".join(f"'{t}'" for t in sorted(IANA_TLDS))
    return f"""
WITH h AS (
  SELECT c_custkey,
         CASE c_custkey % 8
           WHEN 0 THEN 'us' WHEN 1 THEN 'kr' WHEN 2 THEN 'de'
           WHEN 3 THEN 'jp' WHEN 4 THEN 'xn--p1ai' WHEN 5 THEN 'dev'
           WHEN 6 THEN 'localdomain' ELSE 'zz9'
         END AS tld
  FROM customer
), r AS (
  SELECT c_custkey, tld, tld || '.site' || CAST(c_custkey AS STRING) AS rev_host
  FROM h
)
SELECT tld,
       CAST(CASE WHEN string_split(rev_host, '.')[1] IN ({tld_list})
            THEN 1 ELSE 0 END AS BIGINT) AS tld_valid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM r GROUP BY 1, 2
"""


@register(
    "url_tld_validation_counts",
    oracle=_duck_tld_oracle(),
    description="F10 with the full vendored IANA registry: synthesized "
    "rev-hosts over valid ccTLDs/punycode/gTLDs and junk labels, "
    "validated via tld_is_valid (Catalyst-folded isin over 1569 TLDs) "
    "and counted per (tld, verdict) — the oracle replays membership "
    "against the same public list",
    tags=("text", "url"),
)
def url_tld_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.functions.url import tld_is_valid  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    tld = (
        F.when(F.col("c_custkey") % 8 == 0, "us")
        .when(F.col("c_custkey") % 8 == 1, "kr")
        .when(F.col("c_custkey") % 8 == 2, "de")
        .when(F.col("c_custkey") % 8 == 3, "jp")
        .when(F.col("c_custkey") % 8 == 4, "xn--p1ai")
        .when(F.col("c_custkey") % 8 == 5, "dev")
        .when(F.col("c_custkey") % 8 == 6, "localdomain")
        .otherwise("zz9")
    )
    r = t.customer.select(
        "c_custkey",
        tld.alias("tld"),
    ).withColumn(
        "rev_host",
        F.concat(F.col("tld"), F.lit(".site"), F.col("c_custkey").cast("string")),
    )
    return r.groupBy(
        "tld", tld_is_valid("rev_host").cast("bigint").alias("tld_valid")
    ).agg(F.count(F.lit(1)).alias("n"))


GOPHER_STOPWORDS = ("the", "and", "of", "to", "a", "in")


def duck_gopher_stats_ctes(source: str = "documents") -> str:
    """The gopher w/s CTE bodies, parameterized by source relation —
    shared by the text_gopher_rules oracle and the end-to-end curation
    pipeline oracle (curation_pipeline_e2e)."""
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines,
         text
  FROM {source}
), s AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(words, x -> CAST(length(x) AS BIGINT))),
              (acc, c) -> acc + c) AS BIGINT) AS sum_len,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS n_symbols,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l ->
              starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
              OR starts_with(ltrim(l), chr(8226)))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, l ->
              ends_with(rtrim(l), '...')
              OR ends_with(rtrim(l), chr(8230)))) AS BIGINT) AS n_ellipsis,
         CAST(len(list_intersect(list_distinct(
              list_transform(words, x -> lower(x))),
              [{stop_list}])) AS BIGINT) AS n_stop
  FROM w
)"""


#: The published gate thresholds as a predicate over the `s` CTE's
#: columns — kept in one place so the standalone query and the e2e
#: pipeline oracle can't drift apart.
GOPHER_GATE_SQL = """n_words BETWEEN 50 AND 100000
                  AND CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
                      BETWEEN 3.0 AND 10.0
                  AND CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) < 0.1
                  AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.8
                  AND CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) < 0.9
                  AND CAST(n_ellipsis AS DOUBLE) / CAST(n_lines AS DOUBLE) < 0.3
                  AND n_stop >= 2"""


def _duck_gopher_oracle() -> str:
    return f"""
WITH {duck_gopher_stats_ctes()}
SELECT doc_id, n_words,
       CASE WHEN n_words > 0
            THEN CAST(sum_len AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS mean_word_len,
       CASE WHEN n_words > 0
            THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS alpha_word_frac,
       CASE WHEN n_words > 0
            THEN CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
            ELSE 0.0 END AS symbol_word_ratio,
       CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_line_frac,
       CAST(n_ellipsis AS DOUBLE) / CAST(n_lines AS DOUBLE)
         AS ellipsis_line_frac,
       n_stop AS n_stopwords,
       CAST(CASE WHEN {GOPHER_GATE_SQL}
            THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
FROM s
"""


@register(
    "text_gopher_rules",
    oracle=_duck_gopher_oracle(),
    description="Gopher-style document quality rules (Rae et al. 2021, "
    "App. A1.1): word-count bounds, mean word length, symbol-to-word "
    "ratio, alpha-word fraction, bullet/ellipsis line fractions, "
    "distinct-stopword floor — all whole-stage-codegen column "
    "expressions; the pass flag replays the published thresholds",
    tags=("text", "curation"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_signals_frame(Catalog(spark, sf_dir).documents)


def gopher_signals_frame(
    documents: DataFrame,
    tokenizer: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher signal columns over any frame with (doc_id, text) — the
    reusable form behind the text_gopher_rules query and the CLI
    quality_gate job.

    The gate itself is word-based (as published); `tokenizer="bpe"`
    appends an `n_bpe_tokens` column (vendored tokenizer,
    functions/bpe.py) so downstream capacity budgeting reads the same
    frame. Default output schema is unchanged (oracle compatibility).

    `carry` passes extra source columns (e.g. ("lang", "text")) through
    to the output so a downstream stage can filter on the gate WITHOUT
    joining back to the source — one scan instead of two (the shape
    curation_pipeline_e2e needs at 100 TB).
    """
    extra: list[F.Column] = []
    if tokenizer == "bpe":
        from cc_pyspark_spark.functions.bpe import token_count_udf  # noqa: PLC0415

        extra = [
            token_count_udf()(F.col("text")).cast("bigint").alias("n_bpe_tokens")
        ]
    words = F.filter(
        F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
    )
    lines = F.split(F.col("text"), "\n")
    base = documents.select(
        "doc_id",
        *carry,
        F.size(words).cast("bigint").alias("n_words"),
        F.aggregate(
            words,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.length(x).cast("bigint"),
        ).alias("sum_len"),
        F.size(F.filter(words, lambda x: x.rlike("[a-zA-Z]")))
        .cast("bigint")
        .alias("n_alpha"),
        (
            (F.length("text") - F.length(F.replace("text", F.lit("#"))))
            .cast("bigint")
            + F.floor(
                (
                    F.length("text")
                    - F.length(F.replace("text", F.lit("...")))
                )
                / 3
            ).cast("bigint")
        ).alias("n_symbols"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        )
        .cast("bigint")
        .alias("n_bullet"),
        F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).endswith("...")
                | F.rtrim(l).endswith("…"),
            )
        )
        .cast("bigint")
        .alias("n_ellipsis"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.transform(words, F.lower)),
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            )
        )
        .cast("bigint")
        .alias("n_stop"),
        *extra,
    )
    nw = F.col("n_words").cast("double")
    nl = F.col("n_lines").cast("double")
    mean_len = F.when(
        F.col("n_words") > 0, F.col("sum_len").cast("double") / nw
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        F.col("n_words") > 0, F.col("n_alpha").cast("double") / nw
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        F.col("n_words") > 0, F.col("n_symbols").cast("double") / nw
    ).otherwise(F.lit(0.0))
    bullet_frac = F.col("n_bullet").cast("double") / nl
    ellipsis_frac = F.col("n_ellipsis").cast("double") / nl
    gopher_pass = (
        F.when(
            F.col("n_words").between(50, 100000)
            & mean_len.between(3.0, 10.0)
            & (symbol_ratio < 0.1)
            & (alpha_frac > 0.8)
            & (bullet_frac < 0.9)
            & (ellipsis_frac < 0.3)
            & (F.col("n_stop") >= 2),
            1,
        )
        .otherwise(0)
        .cast("bigint")
    )
    out = base.select(
        "doc_id",
        *carry,
        "n_words",
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        F.col("n_stop").alias("n_stopwords"),
        gopher_pass.alias("gopher_pass"),
        *([F.col("n_bpe_tokens")] if extra else []),
    )
    return out


def _duck_html_extract_oracle() -> str:
    # replays functions/html.py html_to_text step by step: comments,
    # CDATA, script/style blocks, tags, entity chain (&amp; LAST),
    # whitespace collapse. DuckDB regexp_replace needs the 'gs' flags
    # argument where Spark's Java regex uses inline (?s) + implicit
    # replace-all — and RE2 has no backreferences, so the Spark side's
    # single `<(script|style)...</\\1>` becomes two replaces here
    # (equivalent on well-formed pages).
    steps = """
regexp_replace(
 regexp_replace(
  regexp_replace(
   regexp_replace(
    regexp_replace(html, '<!--.*?-->', ' ', 'gs'),
    '<!\\[CDATA\\[.*?\\]\\]>', ' ', 'gs'),
   '<script[^>]*>.*?</script>', ' ', 'gsi'),
  '<style[^>]*>.*?</style>', ' ', 'gsi'),
 '<[^>]*>', ' ', 'gs')
"""
    ents = steps
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&apos;", "''"),
        ("&amp;", "&"),
    ):
        ents = f"replace({ents}, '{ent}', '{rep}')"
    return f"""
WITH pages AS (
  SELECT doc_id,
         '<html><head><style>p {{ color: red }}</style>'
         || '<script>var x = 1 < 2;</script></head>'
         || '<body><!-- doc ' || doc_id || ' --><h1>Doc</h1><p>'
         || text || ' &amp; more &lt;tags&gt;</p></body></html>' AS html
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace({ents}, '\\s+', ' ', 'g')) AS extracted
FROM pages
"""


@register(
    "text_html_extract",
    oracle=_duck_html_extract_oracle(),
    description="F12 HTML-to-text with the default regex backend "
    "(functions/html.py html_to_text) over synthesized pages that "
    "exercise every pipeline stage — style/script blocks, comments, "
    "entity decode order (&amp; last), whitespace collapse — all "
    "JVM-side regexp_replace (whole-stage codegen, the 100 TB hot "
    "path); the oracle replays the identical replace chain",
    tags=("text", "html"),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.functions.html import html_to_text  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    pages = t.documents.select(
        "doc_id",
        F.concat(
            F.lit(
                "<html><head><style>p { color: red }</style>"
                "<script>var x = 1 < 2;</script></head><body><!-- doc "
            ),
            F.col("doc_id").cast("string"),
            F.lit(" --><h1>Doc</h1><p>"),
            F.col("text"),
            F.lit(" &amp; more &lt;tags&gt;</p></body></html>"),
        ).alias("html"),
    )
    return pages.select(
        "doc_id", html_to_text("html").alias("extracted")
    )


# ----------------------- corpus-frequency token rarity (perplexity proxy)


@register(
    "text_token_rarity",
    oracle=f"""
WITH g AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
f AS (SELECT tok, COUNT(*) AS cf FROM g GROUP BY tok),
pd AS (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(f.cf) AS BIGINT) AS sum_corpus_freq
  FROM g JOIN f USING (tok) GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(pd.sum_corpus_freq, 0) AS BIGINT) AS sum_corpus_freq,
       CASE WHEN pd.n_tokens IS NULL OR pd.n_tokens = 0 THEN 0.0
            ELSE pd.sum_corpus_freq * 1.0 / pd.n_tokens END
         AS mean_token_freq
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
""",
    description="Unigram-LM quality proxy (CCNet-style perplexity filter "
    "without float logs): corpus-wide token frequencies joined back to "
    "each document's token stream; per-doc mean corpus frequency ranks "
    "documents by how 'typical' their vocabulary is. All-integer "
    "arithmetic until one final division, so the score is bit-stable "
    "across engines and partitionings — the production alternative to an "
    "order-sensitive sum of log-probs. The frequency table is "
    "vocabulary-sized (Zipf: ~millions of rows at 100 TB), so AQE "
    "broadcasts the join side; token rows pre-aggregate map-side",
    tags=("text", "curation"),
)
def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    g = t.documents.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    freq = g.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    per = (
        g.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("cf").cast("bigint").alias("sum_corpus_freq"),
        )
    )
    base = t.documents.select("doc_id")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("sum_corpus_freq", F.lit(0))
        .cast("bigint")
        .alias("sum_corpus_freq"),
        F.when(F.coalesce("n_tokens", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.col("sum_corpus_freq") * F.lit(1.0) / F.col("n_tokens"))
        .alias("mean_token_freq"),
    )


# ------------------------------------------------- BPE token counting


def _bpe_fixture_oracle() -> str:
    """Oracle for `text_bpe_token_count`: DuckDB cannot run BPE, so the
    expected counts are a vendored fixture (scripts/gen_bpe_vocab.py)
    keyed by md5(text) — covering every document text at sf0.001 AND
    sf0.01, so the same SQL adapts to whichever scale the caller's
    `documents` view holds. A driver-testdata regeneration breaks the
    join visibly (NULL counts) instead of silently passing."""
    import os

    from cc_pyspark_spark.plans.registry import fixture_values

    values = fixture_values(
        os.path.join(
            os.path.dirname(__file__), "..", "functions",
            "bpe_token_fixture.json",
        )
    )
    return f"""
SELECT d.doc_id,
       CAST(f.n_tokens AS BIGINT) AS n_tokens
FROM documents d JOIN (VALUES {values}) AS f(h, n_tokens)
  ON md5(d.text) = f.h
ORDER BY d.doc_id
"""


@register(
    "text_bpe_token_count",
    oracle=_bpe_fixture_oracle(),
    description="Per-document BPE token count with the vendored byte-level "
    "tokenizer (functions/bpe.py): the real LLM-pipeline capacity unit, "
    "replacing the regex-word proxy. Arrow-batched pandas UDF with an "
    "lru_cache per pre-token; oracle is a precomputed md5(text)->count "
    "fixture joined in DuckDB (BPE is not SQL-expressible)",
    tags=("text", "tokenizer"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.functions.bpe import token_count_udf

    t = Catalog(spark, sf_dir)
    return t.documents.select(
        "doc_id", token_count_udf()(F.col("text")).alias("n_tokens")
    ).orderBy("doc_id")


#: Two-level fold chunk width (r8, VERDICT r7 ask #3): the per-doc
#: probability sum folds position-sorted CHUNKS of at most this many
#: bigrams, then folds the chunk sums in chunk order — aggregation
#: buffers are bounded by chunk_size (level 1) and doc_len/chunk_size
#: (level 2) instead of one doc-length array, so a pathological
#: multi-million-token document cannot blow an executor. Deterministic
#: at any chunk width (both fold levels are explicitly ordered);
#: documents shorter than the chunk (all fixture docs: max ~100
#: tokens) occupy ONE chunk, making the result bit-identical to the
#: flat r7 fold.
BIGRAM_FOLD_CHUNK = 4096


def bigram_lm_scores_frame(
    documents: DataFrame, chunk_size: int = BIGRAM_FOLD_CHUNK
) -> DataFrame:
    """(doc_id, n_bigrams, mean_p) for any documents frame — train the
    Laplace-smoothed bigram model on the corpus and score it back in
    one plan. Shared by the registry query and the analyze_documents
    CLI job; see text_bigram_lm_score's description for the float
    determinism contract (two-level position-sorted fold, no ln)."""
    # ONE scan+tokenize, materialized: the tokenized corpus feeds the
    # bigram rows AND the vocabulary; the bigram rows feed training
    # (c2/c1) AND scoring. Without the persists the parquet scan +
    # regex tokenizer subtree runs 4x (same discipline as minhash's
    # shared shingle frame) — at 100 TB that is 3 wasted corpus passes.
    tokd = documents.select("doc_id", tokenize("text").alias("toks")).persist().transform(track_cache)
    docs = tokd.filter(F.size("toks") >= 2)
    bg = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("pos", "s"),
    ).select("doc_id", "pos", "s.w1", "s.w2").persist().transform(track_cache)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # Full-corpus vocabulary (including <2-token docs, as the oracle's
    # `tok` CTE does) — V is the Laplace denominator offset.
    vocab = (
        tokd.select(F.explode("toks").alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "pos",
            (
                (F.col("c2") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    # two-level fold: position-sorted sums within fixed-width chunks,
    # then chunk sums in chunk order — bounded buffers at any doc length
    chunked = scored.groupBy(
        "doc_id", (F.col("pos") / F.lit(chunk_size)).cast("bigint").alias("chk")
    ).agg(
        F.count("*").alias("cnt"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "p"))),
            F.lit(0.0),
            lambda acc, x: acc + x["p"],
        ).alias("chunk_sum"),
    )
    agg = chunked.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("chk", "chunk_sum"))),
            F.lit(0.0),
            lambda acc, x: acc + x["chunk_sum"],
        ).alias("sum_p"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        (F.col("sum_p") / F.col("n_bigrams").cast("double")).alias("mean_p"),
    )



def _duck_bigram_lm_oracle(chunk_size: int = BIGRAM_FOLD_CHUNK) -> str:
    """DuckDB replay of the two-level chunked fold: Spark's 0-based
    posexplode index p equals this oracle's 1-based pos - 1, so the
    chunk index is (pos - 1) // chunk_size on this side."""
    return f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS token FROM t
), vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tok
), bg AS (
  SELECT doc_id, i AS pos, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
), scored AS (
  SELECT bg.doc_id, bg.pos,
         CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vocab.v AS DOUBLE) AS p
  FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
          JOIN c1 ON bg.w1 = c1.w1
          CROSS JOIN vocab
), chunked AS (
  SELECT doc_id, (pos - 1) // {chunk_size} AS chk,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(p ORDER BY pos)),
                     (a, x) -> a + x) AS chunk_sum
  FROM scored GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(chunk_sum ORDER BY chk)),
                     (a, x) -> a + x) AS sum_p
  FROM chunked GROUP BY 1
)
SELECT doc_id, n_bigrams,
       sum_p / CAST(n_bigrams AS DOUBLE) AS mean_p
FROM agg
"""


@register(
    "text_bigram_lm_score",
    oracle=_duck_bigram_lm_oracle(),
    description="Corpus-trained bigram LM scoring (beyond-reference, "
    "CCNet-style quality signal): Laplace-smoothed conditional "
    "probabilities P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) trained in two hash "
    "aggregations, scored back onto every document as the mean next-token "
    "probability. Determinism contract: probabilities use only "
    "exactly-specified IEEE ops (integer casts + one division — ln() is "
    "NOT bit-stable across engines), and the per-doc sum is a TWO-LEVEL "
    "position-sorted fold (r8): chunk-local folds of <= 4096 bigrams, "
    "then chunk sums folded in chunk order — partial-agg order can "
    "never perturb the double AND aggregation buffers stay bounded for "
    "arbitrarily long documents (the r7 flat fold collected one "
    "doc-length array). Train+score is two shuffles on (w1,w2)/(w1) "
    "plus a scalar vocab broadcast",
    tags=("text", "lm"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return bigram_lm_scores_frame(t.documents)


DRIFT_TOP_K = 50


@register(
    "text_drift_chi2",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOKS}) AS token FROM documents
), top AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS g FROM tok
  GROUP BY 1 ORDER BY g DESC, token LIMIT {DRIFT_TOP_K}
), gt AS (
  SELECT CAST(SUM(g) AS BIGINT) AS gtot FROM top
), sc AS (
  SELECT tok.source, tok.token, CAST(COUNT(*) AS BIGINT) AS o
  FROM tok JOIN top ON top.token = tok.token
  GROUP BY 1, 2
), st AS (
  SELECT source, CAST(SUM(o) AS BIGINT) AS s FROM sc GROUP BY 1
), grid AS (
  SELECT st.source, st.s, top.token, top.g, gt.gtot,
         COALESCE(sc.o, 0) AS o
  FROM st CROSS JOIN top CROSS JOIN gt
  LEFT JOIN sc ON sc.source = st.source AND sc.token = top.token
), cells AS (
  SELECT source, s, token,
         (CAST(o AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(g AS DOUBLE) / CAST(gtot AS DOUBLE))
         * (CAST(o AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(g AS DOUBLE) / CAST(gtot AS DOUBLE))
         / (CAST(s AS DOUBLE) * CAST(g AS DOUBLE) / CAST(gtot AS DOUBLE))
           AS cell
  FROM grid
)
SELECT source, CAST(MAX(s) AS BIGINT) AS n_top_tokens,
       list_reduce(list_prepend(0.0, list(cell ORDER BY token)),
                   (a, x) -> a + x) AS chi2
FROM cells GROUP BY source
""",
    description="Token-distribution drift per source (beyond-reference data "
    "quality): chi-square of each source's top-K token counts against the "
    "corpus-wide distribution — the standard detector for a source whose "
    "content shifted between crawls. Expected counts are rational "
    "(s*g/gtot, no transcendental functions) and the per-source sum folds "
    "token-ordered, so the statistic is bit-stable and fully hash-checked. "
    "One explode + two bounded aggregations; the (source x K) grid is "
    "tiny at any corpus size",
    tags=("text", "quality"),
)
def text_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    tok = t.documents.select(
        "source", F.explode(tokenize("text")).alias("token")
    )
    top = (
        tok.groupBy("token")
        .agg(F.count("*").alias("g"))
        .orderBy(F.desc("g"), "token")
        .limit(DRIFT_TOP_K)
    )
    gt = top.agg(F.sum("g").alias("gtot"))
    sc = (
        tok.join(F.broadcast(top.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count("*").alias("o"))
    )
    st = sc.groupBy("source").agg(F.sum("o").alias("s"))
    grid = (
        st.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(gt))
        .join(sc, ["source", "token"], "left")
        .select(
            "source",
            "s",
            "token",
            "g",
            "gtot",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    e = F.col("s").cast("double") * F.col("g").cast("double") / F.col(
        "gtot"
    ).cast("double")
    cell = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    cells = grid.select("source", "s", "token", cell.alias("cell"))
    return cells.groupBy("source").agg(
        F.max("s").cast("bigint").alias("n_top_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("token", "cell"))),
            F.lit(0.0),
            lambda acc, x: acc + x["cell"],
        ).alias("chi2"),
    )


_HASH_CLS_SPARK = f"""
aggregate(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0), 0L,
  (acc, t) -> acc +
    ((aggregate(transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1))),
        0L, (a, c) -> (a * 31 + c) % 1000003) * 2654435761L) % 65536L) - 32768L
)
"""

_HASH_CLS_DUCK = f"""
list_reduce(list_prepend(CAST(0 AS BIGINT),
  list_transform(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), t ->
    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(t) + 1),
                       i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
        (a, c) -> (a * 31 + c) % 1000003) * 2654435761) % 65536) - 32768
)), (acc, x) -> acc + x)
"""


@register(
    "text_hashed_classifier",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         CAST({_HASH_CLS_DUCK} AS BIGINT) AS score_num,
         CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
              AS BIGINT) AS n_tokens
  FROM documents
), p AS (
  SELECT doc_id, score_num, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0.0
              ELSE CAST(score_num AS DOUBLE)
                   / (CAST(n_tokens AS DOUBLE) * 32768.0) END AS s
  FROM s
)
SELECT doc_id, score_num, n_tokens,
       s / (1.0 + abs(s)) AS score,
       s > 0.0 AS is_positive
FROM p
""",
    description="Hashed-feature linear classifier scoring — the "
    "fastText/quality-classifier serving primitive every curation "
    "pipeline runs over the full corpus: each token hashes to a weight "
    "(polynomial char hash -> Knuth multiplicative mix -> centered "
    "16-bit bucket; in production the same hash indexes a broadcast "
    "trained-weight array), the doc score is the integer weight sum "
    "(exact, associative), normalized per token and squashed by the "
    "RATIONAL softsign s/(1+|s|) instead of the logistic sigmoid — "
    "exp/ln differ by 1 ulp between engines (SCALING.md), softsign "
    "does not. Map-only: nested higher-order folds, no explode, no "
    "shuffle, whole-stage codegen",
    tags=("text", "scale"),
)
def text_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    s = t.documents.select(
        "doc_id",
        F.expr(_HASH_CLS_SPARK).alias("score_num"),
        F.expr(
            f"size(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0))"
        ).cast("bigint").alias("n_tokens"),
    ).withColumn(
        "s",
        F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
            F.col("score_num").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(32768.0))
        ),
    )
    return s.select(
        "doc_id",
        "score_num",
        "n_tokens",
        (F.col("s") / (F.lit(1.0) + F.abs("s"))).alias("score"),
        (F.col("s") > F.lit(0.0)).alias("is_positive"),
    )


# ------------------------------------------------------ n-gram novelty (r9)

#: Deterministic reference split for novelty scoring: doc_id % 4 == 0
#: (25%) is the "seen" corpus; the other 75% are scored against it.
#: A modulus split rather than a lang/source predicate so every query
#: doc has non-trivial novelty (a doc scored against a set containing
#: itself is trivially 0).
NOVELTY_REF_MOD = 4


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
  ))) AS s FROM t
),
ref AS (SELECT DISTINCT s FROM sh WHERE doc_id % {NOVELTY_REF_MOD} = 0),
qry AS (SELECT doc_id, s FROM sh WHERE doc_id % {NOVELTY_REF_MOD} <> 0),
seen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM qry WHERE s IN (SELECT s FROM ref) GROUP BY 1
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM qry GROUP BY 1
)
SELECT tot.doc_id, n_shingles,
       COALESCE(n_seen, CAST(0 AS BIGINT)) AS n_seen,
       CAST(n_shingles - COALESCE(n_seen, 0) AS DOUBLE)
         / CAST(n_shingles AS DOUBLE) AS novelty
FROM tot LEFT JOIN seen ON tot.doc_id = seen.doc_id
""",
    description="Per-document n-gram novelty vs a reference corpus "
    "(the complement of memorization/contamination scoring): fraction "
    "of a document's distinct 3-gram shingles ABSENT from the "
    "deterministic 25% reference split — the signal data-mixing "
    "pipelines use to prefer documents that add new content over "
    "paraphrases of what the corpus already holds. One shuffle keyed "
    "by shingle (left-semi against the reference set) + one per-doc "
    "count; novelty is an exact integer ratio with a single double "
    "divide. At 100 TB the reference side is the big one — the "
    "left-semi join is the exact path; a broadcast Bloom filter over "
    "reference shingle hashes is the approximate pre-filter (same "
    "plan, one more map stage) when the reference set exceeds "
    "shuffle-comfortable size",
    tags=("text", "curation", "dedup"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    sh = t.documents.select(
        "doc_id", tokenize("text").alias("toks")
    ).select(
        "doc_id", F.explode(F.array_distinct(shingles("toks", 3))).alias("s")
    )
    ref = (
        sh.filter(F.col("doc_id") % NOVELTY_REF_MOD == 0).select("s").distinct()
    )
    qry = sh.filter(F.col("doc_id") % NOVELTY_REF_MOD != 0)
    seen = (
        qry.join(ref, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_seen"))
    )
    tot = qry.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    return tot.join(seen, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_seen", F.lit(0).cast("bigint")).alias("n_seen"),
        (
            (
                F.col("n_shingles")
                - F.coalesce(F.col("n_seen"), F.lit(0).cast("bigint"))
            ).cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


# ------------------------------------------- Bloom-filter novelty (r9)

#: Bitmap geometry for the approximate novelty path: 2^18 bits as
#: 8192 x 32-bit words (32-bit words keep every mask a small positive
#: bigint — no sign-bit traps in either engine), 2 hash functions.
#: At the fixture's reference-shingle count the fill factor is ~5%,
#: so the false-positive rate (fill^2) is well under 1% — and because
#: the "Bloom filter" here is deterministic integer hashing, even the
#: approximate path keeps a full value-hash oracle.
BLOOM_BITS = 1 << 18
BLOOM_WORD_BITS = 32
#: One polynomial BASE per hash: the two hashes are DIFFERENT
#: polynomials of the string (bases 31 / 131) reduced mod the bitmap
#: size. NOT two odd multipliers of one shared poly value — an odd
#: multiplier is a bijection mod 2^18, so that construction made h0
#: and h1 functions of the same residue and every pre-hash collision
#: a guaranteed false positive (caught by the one-sidedness pin
#: during r9 development, which measured 60% per-doc disagreement
#: where the fill factor predicted ~2%); and a post-multiplier on a
#: ~10^15 poly value overflows int64 under Spark's ANSI mode anyway.
BLOOM_HASHES = (31, 131)
#: Large prime modulus: a*131 + 255 stays far below bigint overflow
#: while pre-hash birthday collisions at 10^7 distinct shingles are
#: ~10^14/2e15 — negligible next to the bitmap's own FPR.
BLOOM_POLY_P = 999999999999989

_BLOOM_POLY_SPARK = (
    "aggregate(transform(sequence(1, length({col})), "
    "i -> ascii(substring({col}, i, 1))), 0L, "
    "(a, c) -> (a * {base} + c) % {p})"
)
_BLOOM_POLY_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({col}) + 1), "
    "i -> CAST(ascii(substring({col}, i, 1)) AS BIGINT))), "
    "(a, c) -> (a * {base} + c) % {p})"
)


def _duck_bloom_novelty_oracle() -> str:
    m, wb = BLOOM_BITS, BLOOM_WORD_BITS
    hashes = ", ".join(
        "({poly} % {m}) AS h{j}".format(
            poly=_BLOOM_POLY_DUCK.format(col="s", base=base, p=BLOOM_POLY_P),
            m=m, j=j,
        )
        for j, base in enumerate(BLOOM_HASHES)
    )
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
  ))) AS s FROM t
),
hashed AS (SELECT doc_id, s, {hashes} FROM sh),
ref_bits AS (
  SELECT h FROM (
    SELECT h0 AS h FROM hashed WHERE doc_id % {NOVELTY_REF_MOD} = 0
    UNION ALL
    SELECT h1 AS h FROM hashed WHERE doc_id % {NOVELTY_REF_MOD} = 0
  )
),
bitmap AS (
  SELECT h // {wb} AS word,
         bit_or(CAST(1 AS BIGINT) << (h % {wb})) AS bits
  FROM ref_bits GROUP BY 1
),
probe AS (
  SELECT q.doc_id, q.s,
         (b0.bits IS NOT NULL
          AND (b0.bits & (CAST(1 AS BIGINT) << (q.h0 % {wb}))) != 0)
         AND
         (b1.bits IS NOT NULL
          AND (b1.bits & (CAST(1 AS BIGINT) << (q.h1 % {wb}))) != 0)
           AS seen
  FROM hashed q
  LEFT JOIN bitmap b0 ON q.h0 // {wb} = b0.word
  LEFT JOIN bitmap b1 ON q.h1 // {wb} = b1.word
  WHERE q.doc_id % {NOVELTY_REF_MOD} <> 0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen_bloom,
       CAST(COUNT(*) - SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_bloom
FROM probe GROUP BY 1
"""


@register(
    "text_ngram_novelty_bloom",
    oracle=_duck_bloom_novelty_oracle(),
    description="The SCALE path text_ngram_novelty's docstring "
    "promises: reference-shingle membership via a broadcast bitmap "
    "Bloom filter (2^18 bits as 8192 32-bit words, 2 poly31-family "
    "polynomial hashes, bases 31/131) instead of the exact "
    "shingle-keyed semi-join — the "
    "reference set reduces to an <=8192-row word table that "
    "BROADCASTS at any reference-corpus size, so the probe side "
    "never shuffles its shingles. Because the filter is deterministic "
    "integer hashing (no library BloomFilter object), the approximate "
    "path keeps a full value-hash oracle; Bloom one-sidedness "
    "(n_seen_bloom >= n_seen exact, hence novelty_bloom <= novelty) "
    "is additionally pinned against the exact twin in pytest",
    tags=("text", "curation", "scale"),
)
def text_ngram_novelty_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, wb = BLOOM_BITS, BLOOM_WORD_BITS
    t = Catalog(spark, sf_dir)
    sh = t.documents.select(
        "doc_id", tokenize("text").alias("toks")
    ).select(
        "doc_id", F.explode(F.array_distinct(shingles("toks", 3))).alias("s")
    )
    hashed = sh.select(
        "doc_id",
        "s",
        *[
            F.expr(
                "({poly} % {m})".format(
                    poly=_BLOOM_POLY_SPARK.format(
                        col="s", base=base, p=BLOOM_POLY_P
                    ),
                    m=m,
                )
            ).alias(f"h{j}")
            for j, base in enumerate(BLOOM_HASHES)
        ],
    )
    ref = hashed.filter(F.col("doc_id") % NOVELTY_REF_MOD == 0)
    ref_bits = ref.select(F.col("h0").alias("h")).unionAll(
        ref.select(F.col("h1").alias("h"))
    )
    bitmap = ref_bits.groupBy(
        (F.col("h") / wb).cast("bigint").alias("word")
    ).agg(
        F.expr(f"bit_or(shiftleft(cast(1 as bigint), h % {wb}))").alias("bits")
    )
    q = hashed.filter(F.col("doc_id") % NOVELTY_REF_MOD != 0)
    b0, b1 = bitmap.alias("b0"), bitmap.alias("b1")
    probe = (
        q.join(
            F.broadcast(b0),
            (F.col("h0") / wb).cast("bigint") == F.col("b0.word"),
            "left",
        )
        .join(
            F.broadcast(b1),
            (F.col("h1") / wb).cast("bigint") == F.col("b1.word"),
            "left",
        )
        .select(
            "doc_id",
            (
                F.col("b0.bits").isNotNull()
                & (
                    F.expr(
                        f"b0.bits & shiftleft(cast(1 as bigint), h0 % {wb})"
                    )
                    != 0
                )
                & F.col("b1.bits").isNotNull()
                & (
                    F.expr(
                        f"b1.bits & shiftleft(cast(1 as bigint), h1 % {wb})"
                    )
                    != 0
                )
            ).alias("seen"),
        )
    )
    return probe.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("seen"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_seen_bloom"),
        (
            (
                F.count("*")
                - F.sum(F.when(F.col("seen"), 1).otherwise(0))
            ).cast("double")
            / F.count("*").cast("double")
        ).alias("novelty_bloom"),
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction (late r9): the registry could APPLY a BPE
# tokenizer (functions/bpe.py, text_bpe_token_count) but not train one.
# This is Sennrich-style merge learning run distributed: the corpus
# collapses once into a (word, freq) vocabulary (the only corpus-sized
# shuffle), then each round counts adjacent symbol pairs weighted by
# word frequency, picks the global argmax (count desc, pair asc — exact
# tie-break), and rewrites the vocabulary with the merge. At 100 TB the
# vocab table is tiny relative to the corpus (distinct words), each
# round is one grouped aggregation + one broadcast of a 1-row argmax —
# the corpus itself is never re-scanned after round 0.

#: Number of merge rounds the registered query learns.
BPE_TRAIN_MERGES = 10


def _bpe_train_oracle(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Generated per-round SQL replay (the kcenter convention): each
    round re-derives the pair counts, argmax, and vocabulary rewrite in
    pure SQL, so DuckDB learns the merges independently."""
    head = """
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
v0 AS MATERIALIZED (
  SELECT array_to_string(string_split(w, ''), ' ') || ' </w>' AS sym,
         CAST(COUNT(*) AS BIGINT) AS f
  FROM words GROUP BY w
)"""
    blocks, selects = [], []
    for r in range(1, n_merges + 1):
        blocks.append(f""",
p{r} AS (
  SELECT syms[i] || ' ' || syms[i+1] AS pair, CAST(SUM(f) AS BIGINT) AS cnt
  FROM (SELECT string_split(sym, ' ') AS syms, f FROM v{r - 1}) t,
       unnest(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1
),
m{r} AS MATERIALIZED (
  SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1
),
v{r} AS MATERIALIZED (
  -- symbol-boundary-anchored rewrite (NOT a bare substring replace,
  -- which would also fire inside neighbouring symbols, e.g. pair
  -- 'h e' inside 'th e'): double every separator so each boundary
  -- owns two spaces, match the pair with its internal separator
  -- doubled and single flanking spaces — consuming one space from
  -- each neighbouring boundary, never the neighbour's anchor — then
  -- collapse the doubled separators back. Equivalent to subword-nmt's
  -- (?<!\\S)pair(?!\\S) regex (brute-checked over 200k random cases).
  SELECT trim(replace(
           replace(' ' || replace(sym, ' ', '  ') || ' ',
                   (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM m{r}),
                   (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM m{r})),
           '  ', ' ')) AS sym, f
  FROM v{r - 1}
)""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, pair, "
            f"replace(pair, ' ', '') AS merged, cnt FROM m{r}"
        )
    return head + "".join(blocks) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    description="BPE tokenizer TRAINING (complement of text_bpe_token_"
    "count, which applies a fixed vocab): [a-z]+ words collapse to a "
    "(symbol-string, freq) vocabulary — the single corpus-sized shuffle "
    "— then 10 merge rounds each run one pair-count aggregation over "
    "the vocab (frequency-weighted adjacent symbol pairs via transform/"
    "slice, no UDF), take the global argmax with an exact (count desc, "
    "pair asc) tie-break, and rewrite symbol strings with replace(). "
    "The 1-row argmax is eagerly checkpointed per round (pair counting "
    "runs once) and broadcast into the rewrite, so the per-round cost "
    "is O(vocab), not O(corpus). The DuckDB oracle re-learns all 10 "
    "merges independently via a generated per-round SQL chain",
    tags=("text", "llm", "scale"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    words = t.documents.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
        .select(
            F.expr("concat(array_join(split(w, ''), ' '), ' </w>')").alias(
                "sym"
            ),
            "f",
        )
        # Materialize the round-0 vocabulary ONCE so the per-round pair
        # counts replay from here, never from the corpus scan + word-
        # count shuffle — this is what makes the per-round cost O(vocab)
        # rather than O(corpus), as the registered description claims.
        .localCheckpoint(eager=True)
    )
    merges = []
    # Per-round vocab persists with in-loop release (r16 optimization
    # round; guide §2.4/§5 and VERDICT r15 ask #6). The r15 shape
    # materialized NO intermediate vocabulary, so round r's pair count
    # replayed rewrites 1..r-1 from the round-0 checkpoint — O(rounds²)
    # rewrite passes total, measured as per-round checkpoint actions
    # climbing 0.16 -> 0.37 s across the 10 rounds at sf0.1 (and as the
    # row's within-query sample climb, its spread_note since r13). Each
    # round's rewrite is now persisted; round r+1's argmax action
    # materializes it, at which point every OLDER rewrite persist is
    # dead and is unpersisted IN the loop (bounded live state: <= 2
    # vocab caches). Recompute on eviction stays possible: the chain
    # bottoms out at the round-0 checkpoint, which is never released
    # here (an unpersisted localCheckpoint cannot recompute, a
    # persist can). Pair counts are unchanged (MATCH).
    live: list = []  # persisted rewrite vocabs, oldest first
    for r in range(1, BPE_TRAIN_MERGES + 1):
        # Split ONCE into a materialized array column (r15): the old
        # expression inlined split(sym, ' ') at three positions, and
        # the occurrence inside the transform lambda (element_at(...,
        # i + 2)) re-split the symbol string once per adjacent pair.
        pairs = (
            vocab.select("f", F.split("sym", " ").alias("ss"))
            .where(F.size("ss") > 1)
            .select(
                "f",
                F.explode(
                    F.expr(
                        "transform(slice(ss, 1, size(ss) - 1), (x, i) -> "
                        "concat(x, ' ', element_at(ss, i + 2)))"
                    )
                ).alias("pair"),
            )
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            # 1-row frame: materializes this round's pair count exactly
            # once (it is referenced by the output AND the rewrite) and
            # truncates the iterative lineage.
            .localCheckpoint(eager=True)
        )
        # The action above materialized the NEWEST vocab persist (its
        # pair count reads it); every older rewrite persist is dead.
        while len(live) > 1:
            live.pop(0).unpersist()
        merges.append(
            top.select(
                F.lit(r).cast("long").alias("merge_rank"),
                "pair",
                F.expr("replace(pair, ' ', '')").alias("merged"),
                "cnt",
            )
        )
        # Symbol-boundary-anchored rewrite (doubled-separator trick —
        # see the oracle chain's v{r} comment): a bare replace(sym, _p,
        # merged) would also fire across symbol boundaries ('h e'
        # matching inside 'th e'), which is not Sennrich BPE. The
        # final round's rewrite is never consumed — skip building it.
        if r < BPE_TRAIN_MERGES:
            vocab = vocab.crossJoin(
                F.broadcast(top.select(F.col("pair").alias("_p")))
            ).select(
                F.expr(
                    "trim(replace("
                    "replace(concat(' ', replace(sym, ' ', '  '), ' '), "
                    "concat(' ', replace(_p, ' ', '  '), ' '), "
                    "concat(' ', replace(_p, ' ', ''), ' ')), "
                    "'  ', ' '))"
                ).alias("sym"),
                "f",
            ).persist()
            live.append(vocab)
    # The last argmax materialized the final rewrite persist; nothing
    # downstream reads any of them (the output is the union of the
    # checkpointed 1-row argmax frames).
    for df in live:
        df.unpersist()
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


# --------------------- blocklist phrase matching (r9, Aho-Corasick)
#
# Phrase-list filtering (spam lexicons, benchmark canaries, licensing
# strings) is a standard curation gate. The naive shape — one
# contains() per phrase, or a mega-regex alternation — is
# O(phrases x text); the deployment shape is ONE automaton pass per
# document: O(len + matches) independent of phrase-list size
# (functions/acmatch.py). The oracle deliberately runs the naive
# per-phrase strpos join instead — an independent derivation of the
# same answer, which is exactly what makes it a useful oracle.

#: Word-boundary phrase blocklist over the fixture vocabulary. Multi-
#: token phrases only match as consecutive tokens; 'scan' alone never
#: fires inside 'rescans' (space padding on both sides of the match).
BLOCKLIST_PHRASES: tuple[str, ...] = (
    "table scan",
    "hash join",
    "sort merge",
    "stream batch",
    "big vector",
    "slow filter",
    "key order",
    "dup",
)

_DUCK_NORM = f"array_to_string({_DUCK_TOKS}, ' ')"

_BLOCKLIST_VALUES = ",".join(f"('{p}')" for p in BLOCKLIST_PHRASES)


@register(
    "text_blocklist_phrases",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, ' ' || {_DUCK_NORM} || ' ' AS t FROM documents
), ph(phrase) AS (
  SELECT * FROM (VALUES {_BLOCKLIST_VALUES}) AS v(phrase)
), hit AS (
  SELECT n.doc_id, p.phrase
  FROM norm n JOIN ph p ON strpos(n.t, ' ' || p.phrase || ' ') > 0
)
SELECT d.doc_id,
       CAST(COUNT(h.phrase) AS BIGINT) AS n_hits,
       COALESCE(string_agg(h.phrase, ',' ORDER BY h.phrase), '') AS hits
FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
GROUP BY d.doc_id
""",
    description="Blocklist phrase matching (beyond-reference): word-"
    "boundary multi-phrase search via a broadcast Aho-Corasick automaton "
    "inside ONE Arrow-batched pandas UDF pass — O(len + matches) per doc "
    "independent of phrase-list size, map-only, no shuffle. The naive "
    "per-phrase contains() is O(phrases x text) and is exactly what the "
    "DuckDB oracle runs, so the two derivations are independent. At "
    "10^5+ phrases (real curation lexicons) the automaton is the only "
    "shape that survives; the per-worker build is cached across batches",
    tags=("text", "curation"),
)
def text_blocklist_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return blocklist_hits_frame(t.documents, BLOCKLIST_PHRASES)


def blocklist_annotate(
    df: DataFrame, phrases: tuple[str, ...] = BLOCKLIST_PHRASES
) -> DataFrame:
    """All input columns + (n_hits, hits) — stateless, so the SAME
    expression serves batch and Structured Streaming (the streaming
    gate in streaming/curation.py is this plus a filter; parity is
    structural, pinned in tests/test_streaming_blocklist.py)."""
    from cc_pyspark_spark.functions.acmatch import match_phrases

    # NULL text matches nothing: coalesce to (0, '') so the ingest
    # gate's n_hits = 0 filter KEEPS null-text rows (NULL n_hits would
    # silently drop them) and batch/streaming/oracle agree.
    ann = df.withColumn(
        "hits",
        F.coalesce(
            match_phrases(F.array_join(tokenize("text"), " "), phrases),
            F.lit(""),
        ),
    )
    return ann.withColumn(
        "n_hits",
        F.when(F.col("hits") == "", F.lit(0))
        .otherwise(F.size(F.split("hits", ",")))
        .cast("bigint"),
    )


def blocklist_hits_frame(
    documents: DataFrame, phrases: tuple[str, ...] = BLOCKLIST_PHRASES
) -> DataFrame:
    """(doc_id, n_hits, hits) — the `blocklist_filter` CLI shares this
    with the registered query; ``phrases`` comes from ``--blocklist_file``
    there (one phrase per line, any size — the automaton cost is
    independent of the list length)."""
    return blocklist_annotate(documents, phrases).select(
        "doc_id", "n_hits", "hits"
    )


# ------------------ weighted percentiles (r9, token-mass quantiles)
#
# agg_percentiles gives row-weighted quantiles; corpus questions are
# usually TOKEN-weighted ("what document length does the median
# TRAINING TOKEN live in?" — the packing/curriculum planning number,
# which row quantiles distort badly when length varies 10x). The
# lower weighted p-quantile is exact integer algebra: smallest value
# v whose running token mass reaches p of the total. No interpolation,
# no floats until the output — the full-value oracle is structural.
#
# Scale shape: one (lang, n_chars) pre-aggregation (map-side partial),
# a per-lang cumulative window over the DISTINCT VALUE frame (tiny:
# |values| per lang, not |docs|), and a min-aggregate. The window
# never sees document rows.

WP_PCTS: tuple[tuple[str, int, int], ...] = (
    ("wp25", 1, 4),
    ("wp50", 1, 2),
    ("wp75", 3, 4),
)

_WP_COLS = ",\n       ".join(
    f"CAST(MIN(CASE WHEN cum * {den} >= tot * {num} THEN n_chars END) "
    f"AS BIGINT) AS {name}"
    for name, num, den in WP_PCTS
)


@register(
    "agg_weighted_percentiles",
    oracle=f"""
WITH w AS (
  SELECT lang, n_chars,
         CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS sw
  FROM documents GROUP BY 1, 2
), c AS (
  SELECT lang, n_chars, sw,
         CAST(SUM(sw) OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS cum,
         CAST(SUM(sw) OVER (PARTITION BY lang) AS BIGINT) AS tot
  FROM w
)
SELECT lang, MAX(tot) AS total_tokens,
       {_WP_COLS}
FROM c GROUP BY lang
""",
    description="Token-weighted percentiles of document length per lang "
    "(beyond-reference): the lower weighted quantile — smallest n_chars "
    "whose running token mass reaches p of the lang total — answers "
    "'what length does the median training token live in', which row "
    "quantiles (agg_percentiles) distort when length varies 10x. Exact "
    "integer algebra end-to-end (cum*den >= tot*num, no division), so "
    "the full-value oracle is structural. The cumulative window runs "
    "over the (lang, n_chars) DISTINCT-VALUE frame, not document rows — "
    "at 100 TB the window input is |value domain|, bounded and tiny",
    tags=("agg", "text"),
)
def agg_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    w = (
        t.documents.select(
            "lang",
            "n_chars",
            F.size(tokenize("text")).cast("bigint").alias("n_tok"),
        )
        .groupBy("lang", "n_chars")
        .agg(F.sum("n_tok").cast("bigint").alias("sw"))
    )
    c = w.select(
        "lang",
        "n_chars",
        F.sum("sw")
        .over(W.partitionBy("lang").orderBy("n_chars"))
        .cast("bigint")
        .alias("cum"),
        F.sum("sw").over(W.partitionBy("lang")).cast("bigint").alias("tot"),
    )
    aggs = [F.max("tot").alias("total_tokens")]
    for name, num, den in WP_PCTS:
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") * F.lit(den) >= F.col("tot") * F.lit(num),
                    F.col("n_chars"),
                )
            )
            .cast("bigint")
            .alias(name)
        )
    return c.groupBy("lang").agg(*aggs)


# ----------------- distributed classifier TRAINING (batch GD, r9)

#: Hashed-feature logistic-regression trainer hyperparameters. D buckets
#: keep the weight/moment vectors broadcastable (65 doubles incl. bias);
#: 3 unrolled full-batch rounds with a fixed step — enough to pin real
#: learning on the fixture (train accuracy ~0.88 vs 0.51 majority at
#: sf0.01) while keeping the oracle's CTE chain bounded.
CLS_TRAIN_DIM = 64
CLS_TRAIN_ROUNDS = 3
CLS_TRAIN_LR = 2.0

#: Per-token feature bucket: the same polynomial char hash -> Knuth
#: multiplicative mix as text_hashed_classifier's weight hash, reduced
#: mod CLS_TRAIN_DIM instead of the centered 16-bit range.
_CLS_IDX_SPARK = f"""
transform(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0), t ->
  (aggregate(transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1))),
      0L, (a, c) -> (a * 31 + c) % 1000003) * 2654435761L) % {CLS_TRAIN_DIM}L)
"""

_CLS_IDX_DUCK = f"""
list_transform(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), t ->
  (list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(t) + 1),
                     i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
      (a, c) -> (a * 31 + c) % 1000003) * 2654435761) % {CLS_TRAIN_DIM})
"""


def _cls_score_expr(
    idxs: str = "idxs", ms: str = "ms", sds: str = "sds", ws: str = "ws"
) -> str:
    """The map-side scoring fold (z margin), shared verbatim by the
    trainer round, text_classifier_eval, and classifier_score_frame so
    the three can never drift apart: per bucket b the standardized tf
    term (tf[b] - mu[b]) / sd[b] * w[b], bias w[d] appended last, summed
    in bucket order (the same fold order the oracle replays)."""
    d = CLS_TRAIN_DIM
    return (
        f"aggregate(concat(transform(sequence(0, {d - 1}), b -> "
        f"(cast(size(filter({idxs}, j -> j = bigint(b))) as double)"
        f" / cast(size({idxs}) as double) - {ms}[b]) / {sds}[b] * {ws}[b]), "
        f"array(1.0D * {ws}[{d}])), 0.0D, (acc, v) -> acc + v)"
    )


def _cls_base(docs: DataFrame) -> DataFrame:
    """Teacher featurization shared by trainer and eval: per doc the
    token->bucket index array plus the normalized teacher score s."""
    return docs.select(
        "doc_id",
        F.expr(_CLS_IDX_SPARK).alias("idxs"),
        (
            F.expr(_HASH_CLS_SPARK).cast("double")
            / F.expr(
                f"size(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0))"
            ).cast("bigint")
        ).alias("s"),
    ).filter(F.size("idxs") > 0)


def _cls_model_row(model: DataFrame) -> DataFrame:
    """Collapse a (feature_idx, mu, sd, weight) model table into ONE
    row of feature_idx-ordered arrays (ms, sds, ws) for broadcast."""
    return model.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("feature_idx", "mu"))),
            lambda x: x["mu"],
        ).alias("ms"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("feature_idx", "sd"))),
            lambda x: x["sd"],
        ).alias("sds"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("feature_idx", "weight"))),
            lambda x: x["weight"],
        ).alias("ws"),
    )


def _cls_train_oracle() -> str:
    """Unrolled DuckDB replay of the batch-GD trainer.

    Every stage mirrors the Spark plan's arithmetic exactly: the dense
    per-(doc, bucket) grid folds z ordered by bucket idx (65 entries
    per doc, bias last), gradients and feature moments sum in
    floor(x*1e12) fixed point (associative — partitioning-independent),
    and the only float ops are IEEE-exact +,-,*,/,sqrt compositions
    shared verbatim with the Spark expressions. AS MATERIALIZED keeps
    the round-chained CTEs from exponential re-expansion (SCALING.md).
    """
    d, lr = CLS_TRAIN_DIM, CLS_TRAIN_LR
    ctes = [f"""lab0 AS MATERIALIZED (
  SELECT doc_id,
         CAST({_HASH_CLS_DUCK} AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS BIGINT) AS s,
         {_CLS_IDX_DUCK} AS idxs
  FROM documents WHERE len({_DUCK_TOKS}) > 0
), thr AS MATERIALIZED (
  SELECT CAST(SUM(CAST(floor(s * 1e12) AS BIGINT)) AS DOUBLE)
         / (1e12 * CAST(COUNT(*) AS DOUBLE)) AS thr FROM lab0
), lab AS MATERIALIZED (
  SELECT doc_id, idxs,
         CASE WHEN s > (SELECT thr FROM thr) THEN 1.0 ELSE 0.0 END AS y
  FROM lab0
), tf AS MATERIALIZED (
  SELECT doc_id, g.idx,
         CAST(len(list_filter(idxs, j -> j = g.idx)) AS DOUBLE)
           / CAST(len(idxs) AS DOUBLE) AS x
  FROM lab CROSS JOIN (SELECT unnest(range(0, {d})) AS idx) g
), nd AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM lab
), mom AS MATERIALIZED (
  SELECT idx,
         CAST(SUM(CAST(floor(x * 1e12) AS BIGINT)) AS DOUBLE)
           / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE)) AS m,
         CAST(SUM(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE)
           / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE)) AS m2
  FROM tf GROUP BY idx
), scale AS MATERIALIZED (
  SELECT idx, m,
         CASE WHEN m2 - m * m <= 0.0 THEN 1.0
              ELSE greatest(sqrt(m2 - m * m), 1e-6) END AS sd
  FROM mom
), feat AS MATERIALIZED (
  SELECT t.doc_id, l.y, t.idx, (t.x - s.m) / s.sd AS x
  FROM tf t JOIN scale s ON t.idx = s.idx JOIN lab l ON t.doc_id = l.doc_id
  UNION ALL
  SELECT doc_id, y, {d} AS idx, 1.0 AS x FROM lab
), w0 AS (
  SELECT unnest(range(0, {d} + 1)) AS idx, 0.0 AS w
)"""]
    for r in range(CLS_TRAIN_ROUNDS):
        ctes.append(f"""z{r} AS MATERIALIZED (
  SELECT f.doc_id, ANY_VALUE(f.y) AS y,
         list_reduce(list_prepend(0.0, list(w.w * f.x ORDER BY f.idx)),
                     (a, b) -> a + b) AS z
  FROM feat f JOIN w{r} w ON f.idx = w.idx
  GROUP BY f.doc_id
), e{r} AS MATERIALIZED (
  SELECT doc_id, (0.5 + 0.5 * (z / (1.0 + abs(z)))) - y AS err FROM z{r}
), g{r} AS MATERIALIZED (
  SELECT f.idx,
         SUM(CAST(floor(e.err * f.x * 1e12) AS BIGINT)) AS s
  FROM feat f JOIN e{r} e ON f.doc_id = e.doc_id
  GROUP BY f.idx
), w{r + 1} AS MATERIALIZED (
  SELECT w.idx,
         w.w - {lr} * (CAST(COALESCE(g.s, 0) AS DOUBLE)
                       / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE))) AS w
  FROM w{r} w LEFT JOIN g{r} g ON w.idx = g.idx
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT w.idx AS feature_idx,
       COALESCE(s.m, 0.0) AS mu,
       COALESCE(s.sd, 1.0) AS sd,
       w.w AS weight
FROM w{CLS_TRAIN_ROUNDS} w LEFT JOIN scale s ON w.idx = s.idx
"""
    )


@register(
    "text_classifier_train",
    oracle=_cls_train_oracle(),
    description="Distributed classifier TRAINING (the missing trainer "
    "for text_hashed_classifier's serving path): full-batch gradient "
    f"descent, {CLS_TRAIN_ROUNDS} unrolled rounds, on "
    f"{CLS_TRAIN_DIM} hashed token-frequency features standardized by "
    "fixed-point corpus moments, softsign-squashed (rational — exp/ln "
    "are 1-ulp engine-divergent), distilling the teacher's "
    "mean-thresholded normalized score into student weights "
    "(~0.88 train accuracy vs 0.51 majority at sf0.01). Spark-first "
    "shape: featurization is map-only per doc (token-bucket counts via "
    "array algebra, no explode, no shuffle), weights + moments travel "
    "as ONE broadcast row of 65-double arrays, z is a map-side "
    "zip_with fold in bucket order, and each round's only shuffle is "
    f"the {CLS_TRAIN_DIM + 1}-key gradient aggregation (map-side "
    "partial combine collapses it to keys x partitions). Gradient and "
    "moment sums are floor(x*1e12) fixed point summed EXACTLY in "
    "decimal(38,0) (BIGINT would overflow at ~1e9 docs x 1e12-scaled "
    "terms; DuckDB's HUGEINT sum is exact natively) with a 1e-6 sd "
    "clamp bounding each term inside the int64 per-value range — "
    "associative, so the trained weights are bit-identical under any "
    "partitioning "
    "and carry a full value-hash oracle (unrolled CTE replay)",
    tags=("text", "scale"),
)
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_train_frame(spark, Catalog(spark, sf_dir).documents)


def classifier_train_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Frame-level trainer core (CLI `classifier_train` job reuses it
    over any (doc_id, text) parquet table)."""
    d, lr = CLS_TRAIN_DIM, CLS_TRAIN_LR
    # cached: the regex tokenize + hash folds (the expensive per-row
    # work) feed both the thr aggregate and the lab materialization
    base = _cls_base(docs).persist().transform(track_cache)
    thr = base.agg(
        (
            F.sum(
                F.floor(F.col("s") * F.lit(1e12)).cast("decimal(28,0)")
            ).cast("double")
            / (F.lit(1e12) * F.count("*").cast("double"))
        ).alias("thr"),
        F.count("*").cast("bigint").alias("nd"),
    )
    lab = base.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "nd",
        F.when(F.col("s") > F.col("thr"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        F.expr(
            f"transform(sequence(0, {d - 1}), b -> "
            "cast(size(filter(idxs, j -> j = bigint(b))) as double)"
            " / cast(size(idxs) as double))"
        ).alias("xtf"),
    )
    lab = lab.persist().transform(track_cache)  # scanned once per stage below
    nd_col = F.col("nd").cast("double")

    # per-bucket fixed-point moments -> one broadcast row of arrays
    mom = (
        lab.select(F.posexplode("xtf").alias("idx", "x"), "nd")
        .groupBy("idx")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x") * F.lit(1e12)).cast("decimal(28,0)")
                ).cast("double")
                / (F.lit(1e12) * F.first(nd_col))
            ).alias("m"),
            (
                F.sum(
                    F.floor(F.col("x") * F.col("x") * F.lit(1e12)).cast(
                        "decimal(28,0)"
                    )
                ).cast("double")
                / (F.lit(1e12) * F.first(nd_col))
            ).alias("m2"),
        )
        .select(
            "idx",
            "m",
            F.when(
                F.col("m2") - F.col("m") * F.col("m") <= F.lit(0.0), F.lit(1.0)
            )
            .otherwise(
                F.greatest(
                    F.sqrt(F.col("m2") - F.col("m") * F.col("m")),
                    F.lit(1e-6),
                )
            )
            .alias("sd"),
        )
    )
    scale_row = mom.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "m"))), lambda x: x["m"]
        ).alias("ms"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "sd"))),
            lambda x: x["sd"],
        ).alias("sds"),
    )
    # dense standardized features, bias (x=1.0) appended at idx=d
    feat = (
        lab.crossJoin(F.broadcast(scale_row))
        .select(
            "doc_id",
            "y",
            "nd",
            F.expr(
                f"concat(transform(sequence(0, {d - 1}), b -> "
                "(xtf[b] - ms[b]) / sds[b]), array(1.0D))"
            ).alias("xz"),
        )
        .persist()
        .transform(track_cache)
    )

    w_row = spark.range(1).select(
        F.expr(f"transform(sequence(0, {d}), b -> 0.0D)").alias("ws")
    )
    for _ in range(CLS_TRAIN_ROUNDS):
        # z: map-side zip_with fold in bucket order, then the softsign err
        scored = (
            feat.crossJoin(F.broadcast(w_row))
            .withColumn(
                "z",
                F.aggregate(
                    F.zip_with("xz", "ws", lambda x, wt: wt * x),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            .select(
                "doc_id",
                "nd",
                "xz",
                (
                    F.lit(0.5)
                    + F.lit(0.5) * (F.col("z") / (F.lit(1.0) + F.abs("z")))
                    - F.col("y")
                ).alias("err"),
            )
        )
        grad = (
            scored.select(
                F.posexplode("xz").alias("idx", "x"), "err", "nd"
            )
            .groupBy("idx")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("err") * F.col("x") * F.lit(1e12)).cast(
                            "decimal(28,0)"
                        )
                    ).cast("double")
                    / (F.lit(1e12) * F.first(nd_col))
                ).alias("g")
            )
        )
        w_row = (
            w_row.crossJoin(
                F.broadcast(
                    grad.groupBy().agg(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("idx", "g"))),
                            lambda x: x["g"],
                        ).alias("gs")
                    )
                )
            )
            .select(
                F.zip_with(
                    "ws",
                    "gs",
                    lambda w, g: w - F.lit(lr) * F.coalesce(g, F.lit(0.0)),
                ).alias("ws")
            )
        )

    out = w_row.crossJoin(F.broadcast(scale_row)).select(
        F.posexplode("ws").alias("feature_idx", "weight"), "ms", "sds"
    )
    return out.select(
        F.col("feature_idx").cast("bigint").alias("feature_idx"),
        F.when(
            F.col("feature_idx") < F.lit(d),
            F.coalesce(F.expr("get(ms, feature_idx)"), F.lit(0.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("mu"),
        F.when(
            F.col("feature_idx") < F.lit(d),
            F.coalesce(F.expr("get(sds, feature_idx)"), F.lit(1.0)),
        )
        .otherwise(F.lit(1.0))
        .alias("sd"),
        F.coalesce("weight", F.lit(0.0)).alias("weight"),
    )


def _cls_eval_oracle() -> str:
    """Confusion matrix of the TRAINED model vs the teacher labels —
    composes the registered trainer oracle verbatim (subquery with its
    own WITH), so the evaluated model and the evaluation can never
    drift apart. All-integer output: the strongest oracle form."""
    d = CLS_TRAIN_DIM
    return f"""
WITH model AS MATERIALIZED (
  SELECT * FROM ({_cls_train_oracle()})
), lab0 AS MATERIALIZED (
  SELECT doc_id,
         CAST({_HASH_CLS_DUCK} AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS BIGINT) AS s,
         {_CLS_IDX_DUCK} AS idxs
  FROM documents WHERE len({_DUCK_TOKS}) > 0
), thr AS MATERIALIZED (
  SELECT CAST(SUM(CAST(floor(s * 1e12) AS BIGINT)) AS DOUBLE)
         / (1e12 * CAST(COUNT(*) AS DOUBLE)) AS thr FROM lab0
), lab AS MATERIALIZED (
  SELECT doc_id, idxs,
         CASE WHEN s > (SELECT thr FROM thr) THEN 1.0 ELSE 0.0 END AS y
  FROM lab0
), feat AS MATERIALIZED (
  SELECT l.doc_id, l.y, m.feature_idx AS idx,
         (CAST(len(list_filter(l.idxs, j -> j = m.feature_idx)) AS DOUBLE)
            / CAST(len(l.idxs) AS DOUBLE) - m.mu) / m.sd * m.weight AS term
  FROM lab l JOIN model m ON m.feature_idx < {d}
  UNION ALL
  SELECT l.doc_id, l.y, {d} AS idx, 1.0 * m.weight AS term
  FROM lab l JOIN model m ON m.feature_idx = {d}
), z AS MATERIALIZED (
  SELECT doc_id, ANY_VALUE(y) AS y,
         list_reduce(list_prepend(0.0, list(term ORDER BY idx)),
                     (a, b) -> a + b) AS z
  FROM feat GROUP BY doc_id
)
SELECT CAST(y AS BIGINT) AS label, z > 0.0 AS pred,
       CAST(COUNT(*) AS BIGINT) AS n
FROM z GROUP BY label, pred
"""


@register(
    "text_classifier_eval",
    oracle=_cls_eval_oracle(),
    description="Train->eval composition: confusion-matrix counts of "
    "the text_classifier_train weights against the teacher labels on "
    "the training corpus — the acceptance gate every trained quality "
    "filter passes before serving (the serving pass itself is "
    "text_hashed_classifier's map-only shape with these weights "
    "broadcast). The model arrives as ONE broadcast row of arrays, "
    "scoring is a map-side zip_with fold in bucket order, and the "
    "output is a <=4-row integer group-by — so evaluation costs one "
    "corpus scan beyond training. Composes the trainer's oracle "
    "verbatim; output is all-integer (counts), the strongest "
    "cross-engine oracle form",
    tags=("text", "scale"),
)
def text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    model_row = _cls_model_row(text_classifier_train(spark, sf_dir))
    base = _cls_base(t.documents).persist().transform(track_cache)
    thr = base.agg(
        (
            F.sum(
                F.floor(F.col("s") * F.lit(1e12)).cast("decimal(28,0)")
            ).cast("double")
            / (F.lit(1e12) * F.count("*").cast("double"))
        ).alias("thr")
    )
    lab = base.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "idxs",
        F.when(F.col("s") > F.col("thr"), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    scored = lab.crossJoin(F.broadcast(model_row)).withColumn(
        "z", F.expr(_cls_score_expr())
    )
    return scored.groupBy(
        F.col("y").cast("bigint").alias("label"),
        (F.col("z") > F.lit(0.0)).alias("pred"),
    ).agg(F.count("*").cast("bigint").alias("n"))


def classifier_score_frame(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Serving path for a trained (feature_idx, mu, sd, weight) model:
    score any frame with a ``text`` column — batch OR streaming (the
    scoring is a stateless map against the broadcast model row, so the
    batch expression IS the streaming expression; streaming/curation.py
    wraps it as the ingest gate). Emits the input columns plus
    ``score`` (the pre-squash margin z) and ``pred`` (z > 0).

    Column contract: existing ``score``/``pred`` columns on the input
    are REPLACED (re-scoring an annotated frame with a retrained model
    is idempotent, never duplicate-column); internal working columns
    are ``__cls``-prefixed, which is the only reserved namespace.
    NULL ``text`` scores 0.0 / pred false, same as empty text — the
    ingest gate's drop mode therefore drops them deterministically
    rather than via NULL-propagating filters."""
    model_row = _cls_model_row(model).select(
        F.col("ms").alias("__cls_ms"),
        F.col("sds").alias("__cls_sds"),
        F.col("ws").alias("__cls_ws"),
        F.lit(1).alias("__cls_mk"),
    )
    cols = [c for c in docs.columns if c not in ("score", "pred")]
    return (
        docs.withColumn("__cls_idxs", F.expr(_CLS_IDX_SPARK))
        .withColumn("__cls_mk", F.lit(1))
        .join(F.broadcast(model_row), "__cls_mk")
        .withColumn(
            "__cls_score",
            F.when(
                F.col("__cls_idxs").isNull()
                | (F.size("__cls_idxs") <= 0),
                F.lit(0.0),
            ).otherwise(
                F.expr(
                    _cls_score_expr(
                        "__cls_idxs", "__cls_ms", "__cls_sds", "__cls_ws"
                    )
                )
            ),
        )
        .select(
            *cols,
            F.col("__cls_score").alias("score"),
            (F.col("__cls_score") > F.lit(0.0)).alias("pred"),
        )
    )


# ----------------- sparse-layout classifier training (r10, ask #6)
#
# The dense trainer above materializes a D+1-length array per document —
# the right layout for D=64, hopeless for fastText-scale feature spaces
# (D in the 10^5-10^7 range at 100 TB, where docs touch ~10^2 buckets).
# This twin trains the SAME model family in the sparse (doc, idx, x)
# layout SCALING.md promised: per document only its occupied buckets
# exist anywhere in the plan. Standardized-feature GD stays sparse via
# the offset decomposition
#     z = sum_sparse (w_b / sd_b) * x_b + (w_bias - C),
#     C = sum_b w_b / sd_b * mu_b           (folded once per round),
# and the gradient's dense part factors through the scalar error sum E:
#     g_b = t1_b / (1e12 nd) - (mu_b / sd_b) * (E / (1e12 nd)),
#     t1_b = sum_docs floor(err * (x_b / sd_b) * 1e12).
# Per round: ONE broadcast weight row, one O(nnz) gradient aggregation
# with D+1 keys (map-side combined), one 1-row error sum — per-round
# shuffle cost is nnz, never nd x D. All sums are floor(x*1e12) fixed
# point (decimal(28,0) in Spark, BIGINT->HUGEINT in DuckDB) so weights
# are bit-identical under any partitioning; every float fold runs in
# bucket-idx order on both engines.

#: Hashed feature-space size of the sparse twin. 4096 keeps the oracle
#: replay tractable while being 64x the dense grid — large enough that
#: a dense per-doc array would already be the wrong layout.
CLS_SPARSE_DIM = 4096

_CLS_SIDX_SPARK = f"""
transform(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0), t ->
  (aggregate(transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1))),
      0L, (a, c) -> (a * 31 + c) % 1000003) * 2654435761L) % {CLS_SPARSE_DIM}L)
"""

_CLS_SIDX_DUCK = f"""
list_transform(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), t ->
  (list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(t) + 1),
                     i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
      (a, c) -> (a * 31 + c) % 1000003) * 2654435761) % {CLS_SPARSE_DIM})
"""


def _cls_sparse_train_oracle() -> str:
    """Unrolled DuckDB replay of the sparse batch-GD trainer — the same
    offset/factored-gradient algebra as the Spark plan, arithmetic
    mirrored term for term (see the section comment)."""
    d, lr = CLS_SPARSE_DIM, CLS_TRAIN_LR
    ctes = [f"""lab0 AS MATERIALIZED (
  SELECT doc_id,
         CAST({_HASH_CLS_DUCK} AS DOUBLE)
           / CAST(len({_DUCK_TOKS}) AS BIGINT) AS s,
         {_CLS_SIDX_DUCK} AS idxs
  FROM documents WHERE len({_DUCK_TOKS}) > 0
), thr AS MATERIALIZED (
  SELECT CAST(SUM(CAST(floor(s * 1e12) AS BIGINT)) AS DOUBLE)
         / (1e12 * CAST(COUNT(*) AS DOUBLE)) AS thr FROM lab0
), lab AS MATERIALIZED (
  SELECT doc_id, idxs,
         CASE WHEN s > (SELECT thr FROM thr) THEN 1.0 ELSE 0.0 END AS y
  FROM lab0
), tf AS MATERIALIZED (
  SELECT doc_id, idx,
         CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(n) AS DOUBLE) AS x
  FROM (SELECT doc_id, unnest(idxs) AS idx, len(idxs) AS n FROM lab)
  GROUP BY doc_id, idx
), nd AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM lab
), mom AS MATERIALIZED (
  SELECT idx,
         CAST(SUM(CAST(floor(x * 1e12) AS BIGINT)) AS DOUBLE)
           / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE)) AS m,
         CAST(SUM(CAST(floor(x * x * 1e12) AS BIGINT)) AS DOUBLE)
           / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE)) AS m2
  FROM tf GROUP BY idx
), scale AS MATERIALIZED (
  SELECT idx, m,
         CASE WHEN m2 - m * m <= 0.0 THEN 1.0
              ELSE greatest(sqrt(m2 - m * m), 1e-6) END AS sd
  FROM mom
), w0 AS (
  SELECT unnest(range(0, {d} + 1)) AS idx, 0.0 AS w
)"""]
    for r in range(CLS_TRAIN_ROUNDS):
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT list_reduce(list_prepend(0.0, list(w.w / s.sd * s.m ORDER BY s.idx)),
                     (a, b) -> a + b) AS c
  FROM scale s JOIN w{r} w ON w.idx = s.idx
), off{r} AS MATERIALIZED (
  SELECT (SELECT w FROM w{r} WHERE idx = {d}) - (SELECT c FROM c{r}) AS off
), z{r} AS MATERIALIZED (
  SELECT t.doc_id, ANY_VALUE(l.y) AS y,
         list_reduce(list_prepend(0.0, list(w.w / s.sd * t.x ORDER BY t.idx)),
                     (a, b) -> a + b) + (SELECT off FROM off{r}) AS z
  FROM tf t JOIN scale s ON t.idx = s.idx JOIN w{r} w ON w.idx = t.idx
       JOIN lab l ON t.doc_id = l.doc_id
  GROUP BY t.doc_id
), e{r} AS MATERIALIZED (
  SELECT doc_id, (0.5 + 0.5 * (z / (1.0 + abs(z)))) - y AS err FROM z{r}
), ee{r} AS MATERIALIZED (
  SELECT SUM(CAST(floor(err * 1e12) AS BIGINT)) AS efp FROM e{r}
), g{r} AS MATERIALIZED (
  SELECT t.idx,
         SUM(CAST(floor(e.err * (t.x / s.sd) * 1e12) AS BIGINT)) AS t1
  FROM tf t JOIN scale s ON t.idx = s.idx JOIN e{r} e ON t.doc_id = e.doc_id
  GROUP BY t.idx
), w{r + 1} AS MATERIALIZED (
  SELECT w.idx,
         CASE WHEN w.idx = {d} THEN
           w.w - {lr} * (CAST((SELECT efp FROM ee{r}) AS DOUBLE)
                         / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE)))
         WHEN g.idx IS NOT NULL THEN
           w.w - {lr} * ((CAST(g.t1 AS DOUBLE)
                          / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE)))
                         - (s.m / s.sd)
                           * (CAST((SELECT efp FROM ee{r}) AS DOUBLE)
                              / (1e12 * CAST((SELECT nd FROM nd) AS DOUBLE))))
         ELSE w.w END AS w
  FROM w{r} w LEFT JOIN g{r} g ON w.idx = g.idx
       LEFT JOIN scale s ON w.idx = s.idx
)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT w.idx AS feature_idx, s.m AS mu, s.sd AS sd, w.w AS weight
FROM w{CLS_TRAIN_ROUNDS} w JOIN scale s ON w.idx = s.idx
UNION ALL
SELECT {d}, 0.0, 1.0,
       (SELECT w FROM w{CLS_TRAIN_ROUNDS} WHERE idx = {d})
"""
    )


@register(
    "text_classifier_train_sparse",
    oracle=_cls_sparse_train_oracle(),
    description="Sparse-layout classifier TRAINING — the production "
    f"fastText shape for D >> 64 ({CLS_SPARSE_DIM} hashed buckets here): "
    "per document only its occupied buckets exist anywhere in the plan "
    "as sorted (idx, x) struct arrays; standardized-feature GD stays "
    "sparse via the offset decomposition z = sum_sparse (w/sd)x + "
    "(w_bias - sum_b w mu/sd), and the gradient's dense part factors "
    "through the scalar error sum, so each of the "
    f"{CLS_TRAIN_ROUNDS} rounds costs ONE broadcast weight row, one "
    "O(nnz) map-side-combined gradient aggregation, and a 1-row error "
    "sum — per-round shuffle is nnz, never nd x D. Same fixed-point "
    "floor(x*1e12) algebra as the dense twin (partition-invariant, "
    "bit-identical weights), every float fold in bucket order on both "
    "engines; model rows emitted only for occupied buckets (+ bias)",
    tags=("text", "llm", "scale"),
)
def text_classifier_train_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_train_sparse_frame(
        spark, Catalog(spark, sf_dir).documents
    )


def classifier_train_sparse_frame(
    spark: SparkSession, docs: DataFrame
) -> DataFrame:
    """Frame-level sparse trainer core (same contract as
    classifier_train_frame; see the section comment for the algebra)."""
    d, lr = CLS_SPARSE_DIM, CLS_TRAIN_LR
    base = docs.select(
        "doc_id",
        F.expr(_CLS_SIDX_SPARK).alias("idxs"),
        (
            F.expr(_HASH_CLS_SPARK).cast("double")
            / F.expr(
                f"size(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0))"
            ).cast("bigint")
        ).alias("s"),
    ).filter(F.size("idxs") > 0)
    base = base.persist().transform(track_cache)
    thr = base.agg(
        (
            F.sum(
                F.floor(F.col("s") * F.lit(1e12)).cast("decimal(28,0)")
            ).cast("double")
            / (F.lit(1e12) * F.count("*").cast("double"))
        ).alias("thr"),
        F.count("*").cast("bigint").alias("nd"),
    )
    # per-doc SPARSE features: sorted (idx, x) structs over occupied
    # buckets only — the layout difference vs the dense twin's xtf array.
    # Repartitioned by doc_id BEFORE the feats transform (r16
    # optimization round, guide §2.4/§6): the bench corpus parquet is a
    # single row group, so the scan — and with it this cache and every
    # per-round gradient map stage reading it — was ONE task
    # (measured: per-round checkpoint actions ~0.6 s single-core at
    # sf0.1). One exchange of the skinny (doc_id, idxs, s) rows at
    # cache build buys a conf-parallel layout for the 3x2 per-round
    # fold passes; at cluster scale the conf count is the cluster knob
    # and the exchange stays one amortized O(nnz) pass. Results are
    # unchanged: every per-round aggregate is fixed-point/decimal
    # (partition-invariant).
    lab = (
        base.repartition("doc_id")
        .crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "nd",
            F.when(F.col("s") > F.col("thr"), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
            F.expr(
                "transform(array_sort(array_distinct(idxs)), i -> struct("
                "i as idx, "
                "cast(size(filter(idxs, j -> j = i)) as double)"
                " / cast(size(idxs) as double) as x))"
            ).alias("feats"),
        )
        .persist()
        .transform(track_cache)
    )
    nd_d = F.col("nd").cast("double")

    sp = lab.select("nd", F.explode("feats").alias("f")).select(
        "nd", F.col("f.idx").alias("idx"), F.col("f.x").alias("x")
    )
    mom = (
        sp.groupBy("idx")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x") * F.lit(1e12)).cast("decimal(28,0)")
                ).cast("double")
                / (F.lit(1e12) * F.first(nd_d))
            ).alias("m"),
            (
                F.sum(
                    F.floor(F.col("x") * F.col("x") * F.lit(1e12)).cast(
                        "decimal(28,0)"
                    )
                ).cast("double")
                / (F.lit(1e12) * F.first(nd_d))
            ).alias("m2"),
        )
        .select(
            "idx",
            "m",
            F.when(
                F.col("m2") - F.col("m") * F.col("m") <= F.lit(0.0), F.lit(1.0)
            )
            .otherwise(
                F.greatest(
                    F.sqrt(F.col("m2") - F.col("m") * F.col("m")),
                    F.lit(1e-6),
                )
            )
            .alias("sd"),
        )
        .persist()
        .transform(track_cache)
    )
    # one broadcast row: the idx-sorted (idx, m, sd) array for the C
    # fold, plus a DENSE d+1-length sd array for per-element lookups
    # (r16 optimization round, guide §1.2 per-task work): element_at on
    # a MapType is a LINEAR scan in Spark (GetMapValue over
    # ArrayBasedMapData), so the old idx->(m, sd) map made every fold
    # element cost O(|occupied buckets|) — at d=4096 the per-round map
    # stage did ~|feats| x 4k comparisons per document, which is what
    # dominated this row. get(sda, idx) is O(1); values are the
    # identical doubles (unoccupied buckets and the idx=d bias
    # pseudo-feature read the same 1.0 the old coalesce supplied).
    mom_row = mom.groupBy().agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("idx").alias("k"),
                        F.struct("m", "sd").alias("v"),
                    )
                )
            )
        ).alias("mm"),
        F.array_sort(F.collect_list(F.struct("idx", "m", "sd"))).alias("moms"),
    ).select(
        "moms",
        F.expr(
            f"transform(sequence(0, {d}), b -> "
            "coalesce(element_at(mm, bigint(b)).sd, 1.0D))"
        ).alias("sda"),
    # Materialized ONCE (r16): each round's woff broadcast re-executed
    # this 1-row plan — the moment aggregation plus the O(d x |mm|)
    # dense-array scatter — per round. It is round-invariant.
    ).localCheckpoint(eager=True)

    def step(w_row: DataFrame) -> DataFrame:
        woff = w_row.crossJoin(F.broadcast(mom_row)).select(
            "ws",
            "sda",
            F.expr(
                f"get(ws, {d}) - aggregate(moms, 0.0D, (acc, e) -> "
                "acc + get(ws, cast(e.idx as int)) / e.sd * e.m)"
            ).alias("off"),
        )
        scored = (
            lab.crossJoin(F.broadcast(woff))
            .withColumn(
                "z",
                F.expr(
                    "aggregate(feats, 0.0D, (acc, e) -> acc + "
                    "get(ws, cast(e.idx as int)) / get(sda, cast(e.idx as int))"
                    " * e.x) + off"
                ),
            )
            .select(
                "doc_id",
                "nd",
                "feats",
                "sda",
                (
                    F.lit(0.5)
                    + F.lit(0.5) * (F.col("z") / (F.lit(1.0) + F.abs("z")))
                    - F.col("y")
                ).alias("err"),
            )
        )
        # ONE aggregation per round: the bias pseudo-feature (idx=d,
        # x=1.0, sd=1.0) makes its fixed-point term floor(err*1e12),
        # i.e. the error sum E rides the same groupBy as the sparse
        # gradient — `scored` is referenced exactly once, so the
        # per-round map stage never replays (a separate E aggregation
        # doubled the un-checkpointed subtree each round: 8x replay of
        # round-1 work by round 3 — caught by the 10x probe). The
        # aggregated table is <= d+2 rows; the eager checkpoint makes
        # its two consumers (E row, gradient map) free and truncates
        # the loop lineage.
        grad_all = (
            scored.select(
                "nd",
                "err",
                F.explode(
                    F.expr(
                        f"concat(feats, array(struct(bigint({d}) as idx, "
                        "1.0D as x)))"
                    )
                ).alias("f"),
                "sda",
            )
            .select(
                "nd",
                F.col("f.idx").alias("idx"),
                F.floor(
                    F.col("err")
                    * (
                        F.col("f.x")
                        # sda[d] = 1.0 (the bias pseudo-feature) and
                        # 1.0 for unoccupied buckets — the same values
                        # the old coalesce(element_at(mm, ...), 1.0)
                        # produced, at O(1) per element.
                        / F.expr("get(sda, cast(f.idx as int))")
                    )
                    * F.lit(1e12)
                ).cast("decimal(28,0)").alias("t1p"),
            )
            .groupBy("idx")
            .agg(F.sum("t1p").alias("t1"), F.first(nd_d).alias("ndd"))
            .localCheckpoint(eager=True)
        )
        err_sum = grad_all.filter(F.col("idx") == d).select(
            F.col("t1").alias("efp"), "ndd"
        )
        grad = (
            grad_all.filter(F.col("idx") < d)
            .join(F.broadcast(mom), "idx")
            .crossJoin(F.broadcast(err_sum.select("efp")))
            .select(
                "idx",
                (
                    (F.col("t1").cast("double") / (F.lit(1e12) * F.col("ndd")))
                    - (F.col("m") / F.col("sd"))
                    * (
                        F.col("efp").cast("double")
                        / (F.lit(1e12) * F.col("ndd"))
                    )
                ).alias("g"),
            )
        )
        grad_row = grad.groupBy().agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("idx").alias("k"), F.col("g").alias("v"))
                    )
                )
            ).alias("gm")
        )
        return (
            w_row.crossJoin(F.broadcast(grad_row))
            .crossJoin(F.broadcast(err_sum))
            .select(
                F.expr(
                    f"transform(sequence(0, {d}), b -> CASE WHEN b < {d} "
                    f"THEN get(ws, b) - {lr}D * coalesce("
                    "element_at(gm, bigint(b)), 0.0D) "
                    f"ELSE get(ws, b) - {lr}D * (cast(efp as double)"
                    " / (1e12D * ndd)) END)"
                ).alias("ws")
            )
        )

    w_row = spark.range(1).select(
        F.expr(f"transform(sequence(0, {d}), b -> 0.0D)").alias("ws")
    )
    # iterate cuts the weight row eagerly EVERY round (r16 optimization
    # round, guide §1.2 per-task work): without the cut the 1-row frame
    # chains one more nested transform(sequence(0, d)) layer per round,
    # so every round's gradient plan has a DIFFERENT codegen source and
    # pays a fresh janino compilation of a d-wide generated class —
    # measured as a flat ~0.55 s per-round floor at sf0.1 that did not
    # move with data partitioning (1 vs 32 partitions), while re-running
    # an identical plan shape cost ~0.1 s. With the cut, every round's
    # plan is shape-identical and codegen compiles once. The frame is
    # one row; the checkpoint job is ~ms.
    w_row = iterate(step, w_row, CLS_TRAIN_ROUNDS)

    bias = w_row.select(
        F.lit(d).cast("bigint").alias("feature_idx"),
        F.lit(0.0).alias("mu"),
        F.lit(1.0).alias("sd"),
        F.expr(f"get(ws, {d})").alias("weight"),
    )
    out = (
        mom.crossJoin(F.broadcast(w_row))
        .select(
            F.col("idx").cast("bigint").alias("feature_idx"),
            F.col("m").alias("mu"),
            "sd",
            F.expr("get(ws, cast(idx as int))").alias("weight"),
        )
        .unionAll(bias)
    )
    return out


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (r10): the tokenizer-design question — how
# much of the corpus do the top-V types cover? — needs cumulative token
# mass in global frequency order. The naive shape is a single-partition
# ORDER BY window over the full vocabulary (10^7+ types on a real
# corpus); the scale shape reuses the W2 range-prefix-scan discipline
# (operators/ids.py): one range shuffle over the TYPE frame, window-free
# broadcast prefix offsets, parallel per-partition running sums.

#: Vocabulary-size checkpoints of the coverage curve.
VOCAB_COVERAGE_SIZES = (1, 2, 4, 8, 16, 32, 64)


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS t
  FROM documents
), c AS (
  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t
), r AS (
  SELECT token, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rk,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM c
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c
)
SELECT v.vocab_size,
       COALESCE(MAX(CASE WHEN r.rk <= v.vocab_size THEN r.cum END),
                CAST(0 AS BIGINT)) AS covered_tokens,
       (SELECT total FROM tot) AS total_tokens
FROM (VALUES {",".join(f"(CAST({v} AS BIGINT))" for v in VOCAB_COVERAGE_SIZES)})
     v(vocab_size)
CROSS JOIN r
GROUP BY v.vocab_size
""",
    description="Vocabulary coverage curve: cumulative token mass of "
    "the top-V types at V in {1,2,4,...,64} — the how-big-must-the-"
    "vocab-be curve tokenizer design reads off. Scale shape: type "
    "counts are one grouped agg; the global (cnt desc, token asc) "
    "cumulative sum runs as a range-prefix scan over the TYPE frame "
    "(operators/ids.py range_prefix_scan — range shuffle + broadcast "
    "prefix offsets + parallel local scans, NO single-partition "
    "window); the checkpoint readout is one conditional aggregation. "
    "All-integer output",
    tags=("text", "llm", "scale"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.ids import range_prefix_scan  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    counts = (
        t.documents.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select("token", "cnt", (-F.col("cnt")).alias("negcnt"), F.lit(1).cast("bigint").alias("one"))
    )
    scanned = range_prefix_scan(
        counts, ["negcnt", "token"], [("cnt", "sum"), ("one", "sum")]
    ).select(
        F.col("scan_sum_one").alias("rk"), F.col("scan_sum_cnt").alias("cum"), "cnt"
    )
    agg = scanned.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        *[
            F.max(F.when(F.col("rk") <= F.lit(v), F.col("cum")))
            .alias(f"c{v}")
            for v in VOCAB_COVERAGE_SIZES
        ],
    )
    stack = ", ".join(
        f"bigint({v}), coalesce(c{v}, 0L)" for v in VOCAB_COVERAGE_SIZES
    )
    return agg.select(
        F.expr(
            f"stack({len(VOCAB_COVERAGE_SIZES)}, {stack}) "
            "as (vocab_size, covered_tokens)"
        ),
        F.col("total").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM estimation (r10): the repo can SCORE with a
# bigram LM (text_bigram_lm_score) and train classifiers/BPE; this is
# the LM TRAINING side — interpolated Kneser-Ney, the standard n-gram
# smoother (and the scoring backbone of KenLM-style quality filters).
# Every ingredient is an integer count (bigram counts, context totals,
# distinct-continuation counts), so the smoothed probabilities are
# deterministic rational compositions — no log/exp anywhere — and the
# whole estimate carries a value-hash oracle. Scale shape: two grouped
# aggregations over the bigram frame (by w1, by w2) + one 1-row total,
# all map-side combinable; the output cut is a TakeOrdered head.

KN_DISCOUNT = "0.75"
KN_TOPK = 50

# Bigram structs over a PRE-MATERIALIZED token-array column `tk`
# (r15, guide §4.2/§1.2 per-task work): the r10-r14 formulation
# inlined regexp_extract_all(lower(text), ...) at all three positions,
# and the occurrence inside the lambda (element_at(..., i + 2)) is
# re-evaluated per element — the document was re-lowercased and
# re-tokenized once per bigram. Tokenizing once into `tk` and slicing
# that column makes the regex run once per document; the emitted
# bigram multiset is identical.
_SPARK_BIGRAMS = """
transform(slice(tk, 1, greatest(size(tk) - 1, 0)),
  (x, i) -> struct(x as w1, element_at(tk, i + 2) as w2))
"""

_DUCK_BIGRAMS = f"""
list_transform(range(1, greatest(len({_DUCK_TOKS}) - 1, 0) + 1),
  i -> struct_pack(w1 := {_DUCK_TOKS}[i], w2 := {_DUCK_TOKS}[i + 1]))
"""


@register(
    "text_kneser_ney_bigram",
    oracle=f"""
WITH bg AS (
  SELECT b.w1 AS w1, b.w2 AS w2
  FROM (SELECT unnest({_DUCK_BIGRAMS}) AS b FROM documents)
), c AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
), ctx AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx,
         CAST(COUNT(*) AS BIGINT) AS n1fwd
  FROM c GROUP BY w1
), back AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1back FROM c GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM c
)
SELECT c.w1, c.w2, c.c,
       (greatest(CAST(c.c AS DOUBLE) - {KN_DISCOUNT}, 0.0)
        + {KN_DISCOUNT} * CAST(ctx.n1fwd AS DOUBLE)
          * (CAST(back.n1back AS DOUBLE)
             / CAST((SELECT n1tot FROM tot) AS DOUBLE)))
       / CAST(ctx.ctx AS DOUBLE) AS pkn
FROM c JOIN ctx ON c.w1 = ctx.w1 JOIN back ON c.w2 = back.w2
ORDER BY c.c DESC, c.w1, c.w2 LIMIT {KN_TOPK}
""",
    description="Interpolated Kneser-Ney bigram LM estimation (d=0.75) "
    "— the LM-TRAINING complement of text_bigram_lm_score: absolute "
    "discounting with the continuation-probability backoff, every "
    "ingredient an integer count (bigram counts, context totals, "
    "distinct continuations fwd/back, distinct-bigram total) so the "
    "smoothed probabilities are deterministic rational compositions "
    "with no log/exp, hash-stable across engines. Two map-side-"
    f"combinable aggregations over the bigram frame; top-{KN_TOPK} "
    "output by (count desc, w1, w2) rides TakeOrderedAndProject",
    tags=("text", "llm", "scale"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    bg = (
        t.documents.select(tokenize("text").alias("tk"))
        .select(F.explode(F.expr(_SPARK_BIGRAMS)).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c"))
    ctx = c.groupBy(F.col("w1").alias("cw1")).agg(
        F.sum("c").cast("bigint").alias("ctx"),
        F.count("*").cast("bigint").alias("n1fwd"),
    )
    back = c.groupBy(F.col("w2").alias("bw2")).agg(
        F.count("*").cast("bigint").alias("n1back")
    )
    tot = c.agg(F.count("*").cast("bigint").alias("n1tot"))
    d = KN_DISCOUNT
    return (
        c.join(ctx, F.col("w1") == F.col("cw1"))
        .join(back, F.col("w2") == F.col("bw2"))
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            (
                (
                    F.greatest(
                        F.col("c").cast("double") - F.expr(d), F.lit(0.0)
                    )
                    + F.expr(d)
                    * F.col("n1fwd").cast("double")
                    * (
                        F.col("n1back").cast("double")
                        / F.col("n1tot").cast("double")
                    )
                )
                / F.col("ctx").cast("double")
            ).alias("pkn"),
        )
        .orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
        .limit(KN_TOPK)
    )


# --------------------------------------- tokenizer fertility (r11)


def _fertility_oracle() -> str:
    """Per-lang fertility replay: BPE counts come from the vendored
    md5(text)->count fixture (the text_bpe_token_count convention —
    BPE is not SQL-expressible), words and bytes are computed
    independently in DuckDB; every aggregate is an exact integer sum
    and both ratios are single int/int -> double divisions, so the
    value hash is engine-identical."""
    import os  # noqa: PLC0415

    from cc_pyspark_spark.plans.registry import fixture_values  # noqa: PLC0415

    values = fixture_values(
        os.path.join(
            os.path.dirname(__file__), "..", "functions",
            "bpe_token_fixture.json",
        )
    )
    return f"""
WITH per_doc AS (
  SELECT d.lang,
         CAST(f.n_tokens AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(lower(d.text), '{TOKEN_PATTERN}'))
              AS BIGINT) AS n_words,
         CAST(strlen(d.text) AS BIGINT) AS n_bytes
  FROM documents d JOIN (VALUES {values}) AS f(h, n_tokens)
    ON md5(d.text) = f.h
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
       CAST(SUM(n_tokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
         AS fertility,
       CAST(SUM(n_bytes) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
         AS bytes_per_token
FROM per_doc GROUP BY lang
"""


@register(
    "text_tokenizer_fertility",
    oracle=_fertility_oracle(),
    description="Tokenizer fertility by language — the standard "
    "multilingual tokenizer evaluation (tokens per word; a tokenizer "
    "trained on English-heavy data fragments other scripts, inflating "
    "their effective sequence cost) plus bytes-per-token compression. "
    "One Arrow-batched BPE pass (the vendored byte-level tokenizer), "
    "word counts from the JVM-side regex tokenizer, byte counts from "
    "octet_length — then ONE map-side-combinable grouped sum per lang; "
    "ratios are exact int/int divisions of the summed totals, never "
    "averages of per-doc floats, so the value hash is engine-identical "
    "and the metric is the corpus-level fertility (not a doc-mean "
    "proxy). Oracle: the md5->count BPE fixture joined in DuckDB with "
    "independent word/byte computation",
    tags=("text", "tokenizer", "llm"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.functions.bpe import token_count_udf  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    per_doc = t.documents.select(
        "lang",
        token_count_udf()(F.col("text")).cast("bigint").alias("n_tokens"),
        F.size(tokenize("text")).cast("bigint").alias("n_words"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        (
            F.sum("n_tokens").cast("double") / F.sum("n_words").cast("double")
        ).alias("fertility"),
        (
            F.sum("n_bytes").cast("double") / F.sum("n_tokens").cast("double")
        ).alias("bytes_per_token"),
    )


#: Source-scoped boilerplate: a shingle present in at least this many
#: DISTINCT docs of one source counts as that source's boilerplate
#: (site chrome / nav / template text). Fixture-tuned absolute count;
#: at production scale the threshold is a fraction of the source's doc
#: count — the plan is identical (the sdocs frame below already
#: carries the denominator).
BOILER_MIN_DOCS = 2


@register(
    "text_boilerplate_shingles",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       FROM t),
sdf AS (SELECT source, s, CAST(COUNT(*) AS BIGINT) AS df
        FROM sh GROUP BY 1, 2),
boiler AS (SELECT source, s, df FROM sdf WHERE df >= {BOILER_MIN_DOCS}),
hit AS (
  SELECT sh.source, sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM sh JOIN boiler ON sh.source = boiler.source AND sh.s = boiler.s
  GROUP BY 1, 2
),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS occ_total,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM sh GROUP BY source)
SELECT tot.source,
       tot.n_docs,
       COALESCE(b.n_boiler, 0) AS n_boiler_shingles,
       COALESCE(h.docs_hit, 0) AS docs_affected,
       COALESCE(h.occ_removed, 0) AS occ_removed,
       COALESCE(h.occ_removed, 0) * 1.0 / tot.occ_total AS boiler_frac
FROM tot
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_boiler
           FROM boiler GROUP BY source) b ON tot.source = b.source
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_hit,
                  CAST(SUM(n_occ) AS BIGINT) AS occ_removed
           FROM hit GROUP BY source) h ON tot.source = h.source
""",
    description="Source-scoped boilerplate detection (the per-SITE "
    "complement of corpus-global paragraph dedup): a 3-gram shingle "
    "appearing in >= 2 distinct docs of the SAME source is that "
    "source's template text (site chrome, nav, footers — repeated "
    "within a host, informative across hosts, so the global-DF cap "
    "never catches it). Report per source: boilerplate-shingle count, "
    "docs affected, occurrences that removal would strip, and the "
    "stripped fraction of the source's shingle mass. Plan: one "
    "(source, shingle)-keyed count (partial combines map-side — a "
    "10^6-page template site ships one row per map partition per "
    "shingle), a source+shingle equi-join back (co-partitioned: both "
    "sides keyed by the same compound key, AQE handles template-heavy "
    "hot sources), then source-keyed aggs. No UDFs, no windows — "
    "whole-stage codegen throughout. At 100 TB this is CCNet-style "
    "boilerplate removal keyed by host instead of corpus",
    tags=("text", "llm"),
)
def text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    sh = (
        t.documents.select(
            "doc_id", "source", tokenize("text").alias("toks")
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(shingles("toks"))).alias("s"),
        )
        .persist()
        .transform(track_cache)
    )
    sdf = sh.groupBy("source", "s").agg(
        F.count("*").cast("bigint").alias("df")
    )
    boiler = sdf.filter(F.col("df") >= BOILER_MIN_DOCS)
    hit = (
        sh.join(boiler.select("source", "s"), ["source", "s"])
        .groupBy("source", "doc_id")
        .agg(F.count("*").cast("bigint").alias("n_occ"))
    )
    tot = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("occ_total"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    b = boiler.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_boiler")
    )
    h = hit.groupBy("source").agg(
        F.count("*").cast("bigint").alias("docs_hit"),
        F.sum("n_occ").cast("bigint").alias("occ_removed"),
    )
    z = F.lit(0).cast("bigint")
    return (
        tot.join(b, "source", "left")
        .join(h, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_boiler", z).alias("n_boiler_shingles"),
            F.coalesce("docs_hit", z).alias("docs_affected"),
            F.coalesce("occ_removed", z).alias("occ_removed"),
            (
                F.coalesce("occ_removed", z) * 1.0 / F.col("occ_total")
            ).alias("boiler_frac"),
        )
    )


#: Deterministic code snippets mixed into the synthetic corpus by
#: doc_id (the tld-validation pattern: both engines synthesize
#: IDENTICAL input, then the detector math is what's under test).
_CODE_PY = (
    "\ndef f(x):\n    y = {1: 2};\n    return x + 1\n"
)
_CODE_JS = (
    "function main() {\n    var x = 0;\n    x = x + 1;\n    return x;\n}\n"
)
_CODE_C = "\n#include <stdio.h>\nint main() { return 0; }\n"
_CODE_KEYWORDS = ("def ", "return", "function ", "#include", "var ")


def _duck_code_detect_oracle() -> str:
    py, js, c = (s.replace("\n", "' || chr(10) || '") for s in (_CODE_PY, _CODE_JS, _CODE_C))
    kw_sum = " + ".join(
        f"(length(content) - length(replace(content, '{k}', ''))) // {len(k)}"
        for k in _CODE_KEYWORDS
    )
    sym_sum = " + ".join(
        f"(length(content) - length(replace(content, '{ch}', '')))"
        for ch in "{});="
    )
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN text
           WHEN 1 THEN text || '{py}'
           WHEN 2 THEN repeat('{js}', CAST(1 + doc_id % 3 AS INTEGER))
           ELSE text || '{c}'
         END AS content
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(length(content) AS BIGINT) AS n_chars,
         CAST({sym_sum} AS BIGINT) AS n_sym,
         CAST({kw_sum} AS BIGINT) AS kw_hits,
         CAST(len(string_split(content, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(content, chr(10)),
              l -> starts_with(l, '    '))) AS BIGINT) AS n_indent
  FROM m
)
SELECT doc_id, n_sym, kw_hits,
       n_sym * 100.0 / n_chars AS sym_per_100c,
       n_indent * 1.0 / n_lines AS indent_frac,
       CAST(CASE WHEN n_sym * 100 >= 2 * n_chars
                   OR (kw_hits >= 2 AND n_sym > 0)
            THEN 1 ELSE 0 END AS BIGINT) AS is_code
FROM s
"""


@register(
    "text_code_detect",
    oracle=_duck_code_detect_oracle(),
    description="Code-vs-prose detection (the pretraining-mix router: "
    "code goes to a different tokenizer/budget than prose): symbol "
    "density ({});= per 100 chars), code-keyword hits (def/return/"
    "function/#include/var via replace-diff occurrence counts), and "
    "indented-line fraction, each an EXACT integer count with the "
    "ratios single divisions — the is_code gate itself compares "
    "integers (n_sym*100 >= 2*n_chars) so no float threshold can "
    "drift between engines. Input is the synthetic corpus with "
    "deterministic doc_id-keyed code snippets mixed in (the "
    "tld-validation pattern — both engines build identical content, "
    "the detector math is what's under test). All whole-stage-codegen "
    "string expressions, zero shuffles, zero UDFs: detecting code in "
    "100 TB is scan-throughput work",
    tags=("text", "llm", "curation"),
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    did = F.col("doc_id")
    content = (
        F.when(did % 4 == 0, F.col("text"))
        .when(did % 4 == 1, F.concat(F.col("text"), F.lit(_CODE_PY)))
        .when(
            did % 4 == 2,
            F.repeat(F.lit(_CODE_JS), (1 + did % 3).cast("int")),
        )
        .otherwise(F.concat(F.col("text"), F.lit(_CODE_C)))
    )
    m = t.documents.select("doc_id", content.alias("content"))
    n_sym = None
    for ch in "{});=":
        d = F.length("content") - F.length(F.replace(F.col("content"), F.lit(ch)))
        n_sym = d if n_sym is None else n_sym + d
    kw = None
    for k in _CODE_KEYWORDS:
        d = (
            F.length("content")
            - F.length(F.replace(F.col("content"), F.lit(k)))
        ) / len(k)
        kw = d if kw is None else kw + d
    lines = F.split("content", "\n", -1)
    s = m.select(
        "doc_id",
        F.length("content").cast("bigint").alias("n_chars"),
        n_sym.cast("bigint").alias("n_sym"),
        kw.cast("bigint").alias("kw_hits"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(
            F.filter(lines, lambda l: l.startswith("    "))
        ).cast("bigint").alias("n_indent"),
    )
    return s.select(
        "doc_id",
        "n_sym",
        "kw_hits",
        (F.col("n_sym") * 100.0 / F.col("n_chars")).alias("sym_per_100c"),
        (F.col("n_indent") * 1.0 / F.col("n_lines")).alias("indent_frac"),
        F.when(
            (F.col("n_sym") * 100 >= 2 * F.col("n_chars"))
            | ((F.col("kw_hits") >= 2) & (F.col("n_sym") > 0)),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_code"),
    )
