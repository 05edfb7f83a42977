"""Training-data curation operators over `documents`.

Beyond-reference LLM-pipeline surface: PII redaction, Gopher-style
repetition signals, benchmark-contamination detection, and
deterministic sampling. All JVM-side column expressions / joins — no
Python UDFs — so every operator whole-stage-codegens and scales by
partitioning alone.

100 TB notes per operator:
* pii_redact          — pure per-row regexp_replace, embarrassingly
                        parallel, zero shuffle.
* repetition_signals  — explode + two-level partial agg keyed by
                        doc_id; the shuffle key is the document id, so
                        skew is bounded by document length.
* contamination       — inverted-index join keyed by shingle between
                        the (small) benchmark side and the corpus: the
                        benchmark side is broadcast-sized by
                        construction; never an all-pairs product.
* samples             — hash-gate filter (no shuffle) and per-stratum
                        row_number window (shuffle keyed by stratum).

Cross-engine determinism: md5 hex (lowercase in both engines) is the
sampling hash — never rand(); ratios multiply by 1.0 before dividing;
counts cast to BIGINT (DuckDB SUM/COUNT widen to HUGEINT).
"""

from __future__ import annotations

from cc_pyspark_spark.caching import track_cache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cc_pyspark_spark.catalog import Catalog
from cc_pyspark_spark.functions.text import TOKEN_PATTERN, shingles, tokenize
from cc_pyspark_spark.plans.registry import register

_DUCK_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"

#: PII patterns — valid under both Java regex (Spark) and RE2 (DuckDB):
#: no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

#: The synthetic documents carry no PII, so the query plants a
#: deterministic specimen per document (derived from doc_id) before
#: redacting — the assertion is then about real substitutions, not a
#: no-op pass-through. Spark and the oracle build the identical string.
_AUG_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), "
    "'@mail.example.com or 555-', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), "
    "'-0199 at 10.0.', CAST(doc_id % 256 AS STRING), '.77')"
)
_AUG_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@mail.example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') "
    "|| '-0199 at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77'"
)


@register(
    "curation_pii_redact",
    oracle=f"""
WITH aug AS (SELECT doc_id, {_AUG_DUCK} AS t FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(t,
         '{EMAIL_RE}', '<EMAIL>', 'g'),
         '{IPV4_RE}', '<IP>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones
FROM aug
""",
    description="PII redaction: email/IPv4/phone masking via JVM-side "
    "global regexp_replace (zero-shuffle, codegen'd; RE2-compatible "
    "patterns so the oracle is bit-identical)",
    tags=("curation", "text"),
)
def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    aug = t.documents.select("doc_id", F.expr(_AUG_SPARK).alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"),
            IPV4_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
    )


@register(
    "curation_repetition_signals",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM toks WHERE len(toks) >= 2
),
bg_counts AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram
),
rep AS (
  SELECT doc_id,
         MAX(cnt) * 1.0 / SUM(cnt) AS top_bigram_frac
  FROM bg_counts GROUP BY doc_id
)
SELECT t.doc_id,
       1.0 - len(list_distinct(toks)) * 1.0 / len(toks) AS dup_token_frac,
       rep.top_bigram_frac
FROM toks t JOIN rep ON t.doc_id = rep.doc_id
WHERE len(toks) > 0
""",
    description="Gopher-style repetition signals: duplicate-token "
    "fraction and most-frequent-bigram mass per document (explode + "
    "two-level partial agg keyed by doc_id)",
    tags=("curation", "text", "agg"),
)
def curation_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    toks = t.documents.select("doc_id", tokenize("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    bigrams = toks.filter(F.size("toks") >= 2).select(
        "doc_id", F.explode(shingles("toks", k=2)).alias("bigram")
    )
    rep = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg((F.max("cnt") * 1.0 / F.sum("cnt")).alias("top_bigram_frac"))
        .withColumnRenamed("doc_id", "rep_doc_id")
    )
    return (
        toks.join(rep, F.col("doc_id") == F.col("rep_doc_id"))
        .select(
            "doc_id",
            (1.0 - F.size(F.array_distinct("toks")) * 1.0 / F.size("toks")).alias(
                "dup_token_frac"
            ),
            "top_bigram_frac",
        )
    )


#: Benchmark split for the contamination check: the first docs by id
#: play the eval set; everything else is the training corpus. In a real
#: deployment the benchmark side is an external (small) table — the
#: plan shape (broadcast-able inverted-index join) is what matters.
BENCH_MAX_ID = 25
CONTAM_MIN_SHARED = 2

_DUCK_TRIGRAMS = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


@register(
    "curation_contamination",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_DUCK_TRIGRAMS}) AS s FROM toks)
SELECT train.doc_id AS train_id,
       bench.doc_id AS bench_id,
       CAST(COUNT(*) AS BIGINT) AS shared_ngrams
FROM sh train JOIN sh bench ON train.s = bench.s
WHERE train.doc_id >= {BENCH_MAX_ID} AND bench.doc_id < {BENCH_MAX_ID}
GROUP BY train.doc_id, bench.doc_id
HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
""",
    description="Benchmark-contamination detection: distinct 3-gram "
    "overlap between the training corpus and a (broadcast-sized) eval "
    "set via an inverted-index join on the shingle — never all-pairs",
    tags=("curation", "dedup"),
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    sh = (
        t.documents.select("doc_id", tokenize("text").alias("toks"))
        .select("doc_id", F.explode(F.array_distinct(shingles("toks", k=3))).alias("s"))
    )
    train = sh.filter(F.col("doc_id") >= BENCH_MAX_ID)
    bench = sh.filter(F.col("doc_id") < BENCH_MAX_ID).select(
        F.col("doc_id").alias("bench_id"), F.col("s").alias("bs")
    )
    # the eval set is bounded-size: broadcast it so the corpus side
    # streams through without a shuffle
    return (
        train.join(F.broadcast(bench), F.col("s") == F.col("bs"))
        .groupBy(F.col("doc_id").alias("train_id"), "bench_id")
        .agg(F.count("*").cast("bigint").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= CONTAM_MIN_SHARED)
    )


@register(
    "curation_hash_sample",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
""",
    description="Deterministic ~25% stratum-free sample via an md5 hash "
    "gate (pure filter, zero shuffle, reproducible across engines and "
    "runs — never rand())",
    tags=("curation", "sample"),
)
def curation_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return t.documents.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    ).select("doc_id", "lang", "source")


@register(
    "curation_reservoir_per_lang",
    oracle="""
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) ranked
WHERE rn <= 10
""",
    description="Fixed-size per-stratum sample (reservoir analog): "
    "row_number over a per-lang window ordered by the md5 hash — the "
    "window is PARTITIONED (shuffle keyed by stratum, no global sort)",
    tags=("curation", "sample", "window"),
)
def curation_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t.documents.select(
            "doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rn")
        )
        .filter(F.col("rn") <= 10)
    )


@register(
    "curation_split_assign",
    oracle="""
SELECT doc_id, lang,
       CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
""",
    description="Deterministic train/val/test assignment by md5 hash range "
    "(~75/12.5/12.5): pure column expression, zero shuffle, stable across "
    "runs/engines/cluster sizes — the split every training pipeline needs "
    "and rand() cannot give reproducibly; stratification falls out free "
    "because the hash is independent of lang/source",
    tags=("curation", "sample"),
)
def curation_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return t.documents.select(
        "doc_id",
        "lang",
        F.when(first.isin(*"0123456789ab"), "train")
        .when(first.isin("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )


#: Per-language keep-rates for deterministic stratified downsampling,
#: expressed as md5-bucket thresholds out of 256 (exact in both
#: engines): the overrepresented language keeps 128/256 = 50%, the
#: rest keep everything. At production scale these come from the
#: target mixture (e.g. DoReMi / data-mixing weights) — the mechanism
#: is what matters: rates are integers over a hash-bucket space, so
#: the sample is reproducible across runs, engines, and cluster sizes.
MIX_KEEP_BUCKETS_DEFAULT = 256
MIX_KEEP_BUCKETS = {"en": 128}


def _duck_stratified_oracle() -> str:
    nib = "(strpos('0123456789abcdef', substr({h}, {k}, 1)) - 1)"
    h = "md5(CAST(doc_id AS VARCHAR))"
    bucket = (
        nib.format(h=h, k=1) + " * 16 + " + nib.format(h=h, k=2)
    )
    cases = " ".join(
        f"WHEN '{lang}' THEN {thr}" for lang, thr in sorted(MIX_KEEP_BUCKETS.items())
    )
    return f"""
SELECT doc_id, lang
FROM documents
WHERE {bucket} < CASE lang {cases} ELSE {MIX_KEEP_BUCKETS_DEFAULT} END
"""


@register(
    "curation_stratified_sample",
    oracle=_duck_stratified_oracle(),
    description="Deterministic stratified downsampling — the language-"
    "rebalancing step of a training-data mix: per-lang keep-rates are "
    "integer thresholds over 256 md5 buckets of doc_id, so the sample "
    "is a pure column predicate (zero shuffle, scan-stage filter), "
    "reproducible across runs/engines/cluster sizes, and composable "
    "with the split assignment (independent hash inputs). rand() "
    "cannot give any of that. Row-level oracle hash-checks the exact "
    "kept set, not just the rate",
    tags=("curation", "sample"),
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    thr = F.lit(MIX_KEEP_BUCKETS_DEFAULT)
    for lang, v in sorted(MIX_KEEP_BUCKETS.items()):
        thr = F.when(F.col("lang") == lang, F.lit(v)).otherwise(thr)
    return t.documents.select("doc_id", "lang").filter(bucket < thr)


@register(
    "curation_difficulty_bins",
    oracle="""
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM documents
), binned AS (
  SELECT lang, n_chars, CAST((10 * (rn - 1)) // n AS BIGINT) AS bin
  FROM ranked
)
SELECT bin, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM binned GROUP BY 1, 2
""",
    description="Curriculum difficulty binning: decile bins over a "
    "difficulty proxy (n_chars, doc_id tiebreak for total order) via "
    "the COLLECT-FREE distributed rank (operators/ids.py range shuffle "
    "+ broadcast offsets — no single-partition window, unlike NTILE), "
    "bin = floor(10*(rank-1)/n) written identically in both engines "
    "(NTILE's balanced-bucket remainder rule differs, so the explicit "
    "formula is the cross-engine-stable choice); per-(bin, lang) "
    "counts and char ranges feed curriculum schedules",
    tags=("curation", "scale"),
)
def curation_difficulty_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.ids import assign_sequential_ids  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang", "n_chars")
    ranked = assign_sequential_ids(docs, ["n_chars", "doc_id"], id_col="rn")
    n = ranked.agg(F.count("*").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "lang",
            "n_chars",
            # integer floor-div in BOTH engines (// in the oracle):
            # float division + cast would be fine at any real n, but
            # exact arithmetic removes the question entirely
            F.expr("(10 * (rn - 1)) div n").cast("bigint").alias("bin"),
        )
        .groupBy("bin", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


#: Sequence-packing capacity in tokens. Small enough that fixture docs
#: (~20-60 tokens) pack several-per-sequence, mirroring max_seq_len
#: packing in LLM pre-training loaders.
PACK_CAPACITY = 256
#: Docs per range-shard. Packing is order-sensitive and sequential, so
#: it cannot distribute beyond a shard; bounding the shard bounds both
#: the applyInPandas group size and the packing state. At 100 TB the
#: shard is the unit of parallelism (1e4-1e6 docs per shard).
PACK_SHARD = 100


def _duck_pack_tail() -> str:
    """The greedy pack fold over a preceding `toks` CTE with columns
    (lang, doc_id, shard, n_tokens) — shared by all three packing
    oracles (regex unit, BPE unit, e2e pipeline) so the fold's
    semantics cannot drift between them."""
    return f"""d AS (
  SELECT lang, shard, doc_id, n_tokens,
         CAST(row_number() OVER (PARTITION BY lang, shard ORDER BY doc_id)
              AS BIGINT) AS rn
  FROM toks
), packed AS (
  SELECT lang, shard, doc_id, n_tokens, rn,
         n_tokens AS cum, CAST(1 AS BIGINT) AS pack_seq
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.lang, d.shard, d.doc_id, d.n_tokens, d.rn,
         CASE WHEN p.cum + d.n_tokens <= {PACK_CAPACITY}
              THEN p.cum + d.n_tokens ELSE d.n_tokens END,
         CASE WHEN p.cum + d.n_tokens <= {PACK_CAPACITY}
              THEN p.pack_seq ELSE p.pack_seq + 1 END
  FROM d JOIN packed p
    ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1
)
SELECT lang, shard, doc_id, n_tokens, pack_seq,
       cum - n_tokens AS pack_offset
FROM packed"""


def _duck_pack_oracle() -> str:
    return f"""
WITH RECURSIVE toks AS (
  SELECT lang, doc_id,
         CAST(doc_id // {PACK_SHARD} AS BIGINT) AS shard,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), {_duck_pack_tail()}
"""


@register(
    "curation_pack_sequences",
    oracle=_duck_pack_oracle(),
    description="Greedy sequence packing for LLM pre-training: docs are "
    "walked in doc_id order within a (lang, range-shard) group and "
    "appended to the current pack until adding one would exceed "
    "PACK_CAPACITY tokens, then a new pack starts. Sequential state -> "
    "applyInPandas per shard (Arrow-batched; parallel across shards, "
    "which is the 100 TB unit of work); the oracle replays the same "
    "greedy fold as a DuckDB recursive CTE",
    tags=("curation", "pandas-udf"),
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences_frame(Catalog(spark, sf_dir).documents)


def pack_sequences_frame(
    documents: DataFrame,
    capacity: int = PACK_CAPACITY,
    shard_size: int = PACK_SHARD,
    tokenizer: str = "regex",
) -> DataFrame:
    """Greedy sequence packing over any frame with (lang, doc_id, text)
    — the reusable form behind the curation_pack_sequences query and
    the CLI pack_sequences job.

    `tokenizer` picks the capacity unit: "regex" (word proxy, cheap and
    SQL-replayable — the registered oracle uses it) or "bpe" (vendored
    byte-level BPE, functions/bpe.py — the production LLM capacity
    unit, Arrow-batched pandas UDF)."""
    if tokenizer == "bpe":
        from cc_pyspark_spark.functions.bpe import token_count_udf  # noqa: PLC0415

        n_tokens = token_count_udf()(F.col("text")).cast("bigint")
    elif tokenizer == "regex":
        n_tokens = F.size(tokenize("text")).cast("bigint")
    else:  # pragma: no cover - guard
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    toks = documents.select(
        "lang",
        "doc_id",
        (F.col("doc_id") / shard_size).cast("bigint").alias("shard"),
        n_tokens.alias("n_tokens"),
    )

    def pack(pdf):
        import pandas as pd  # noqa: PLC0415

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        cum = 0
        pack_seq = 1
        seqs = []
        offs = []
        for i, n in enumerate(pdf["n_tokens"]):
            if i > 0 and cum + n > capacity:
                pack_seq += 1
                cum = 0
            offs.append(cum)
            cum += n
            seqs.append(pack_seq)
        return pd.DataFrame(
            {
                "lang": pdf["lang"],
                "shard": pdf["shard"],
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "pack_seq": pd.Series(seqs, dtype="int64"),
                "pack_offset": pd.Series(offs, dtype="int64"),
            }
        )

    return toks.groupBy("lang", "shard").applyInPandas(
        pack,
        schema="lang string, shard bigint, doc_id bigint, "
        "n_tokens bigint, pack_seq bigint, pack_offset bigint",
    )


# ------------------------- end-to-end curation pipeline (composite)


def _duck_pipeline_oracle() -> str:
    """Chained replay of the full curation pipeline: gopher gate →
    exact dedup (keep lowest doc_id per identical text) → hash split
    (train only) → greedy packing — each stage the same SQL as its
    standalone oracle, composed over the previous stage's survivors."""
    from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
        GOPHER_GATE_SQL,
        duck_gopher_stats_ctes,
    )

    return f"""
WITH RECURSIVE {duck_gopher_stats_ctes('documents')},
keep AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN s USING (doc_id)
  WHERE {GOPHER_GATE_SQL}
),
ded AS (
  SELECT * FROM keep
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
tr AS (
  SELECT * FROM ded
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        IN ('0','1','2','3','4','5','6','7','8','9','a','b')
),
toks AS (
  SELECT lang, doc_id,
         CAST(doc_id // {PACK_SHARD} AS BIGINT) AS shard,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM tr
), {_duck_pack_tail()}
"""


@register(
    "curation_pipeline_e2e",
    oracle=_duck_pipeline_oracle(),
    description="The full training-data curation pipeline as ONE composed "
    "plan: Gopher quality gate (codegen columns) -> exact content dedup "
    "(md5 digest shuffle key, keep lowest doc_id) -> deterministic hash "
    "train split -> greedy sequence packing (applyInPandas per "
    "(lang, shard)). One Catalyst plan end to end — the gate and split "
    "prune before the dedup shuffle and the packing state, which is the "
    "composition order a 100 TB run needs; oracle chains the four "
    "standalone stage oracles over each stage's survivors",
    tags=("curation", "dedup", "pipeline"),
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.dedup import exact_dedup_keep_first  # noqa: PLC0415
    from cc_pyspark_spark.plans.text import gopher_signals_frame  # noqa: PLC0415

    docs = Catalog(spark, sf_dir).documents
    # `carry` threads lang/text through the gate so the pipeline filters
    # in the scan projection — ONE pass over the corpus, no join back.
    keep = (
        gopher_signals_frame(docs, carry=("lang", "text"))
        .filter(F.col("gopher_pass") == 1)
        .select("doc_id", "lang", "text")
    )
    ded = exact_dedup_keep_first(keep, ["text"], "doc_id")
    first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    train = ded.filter(first.isin(*"0123456789ab"))
    packed = pack_sequences_frame(train)
    return packed.select(
        "lang", "shard", "doc_id", "n_tokens", "pack_seq", "pack_offset"
    )


def _duck_pack_bpe_oracle() -> str:
    """Packing replay with the BPE capacity unit: per-doc token counts
    come from the committed md5(text)->count fixture (DuckDB cannot run
    BPE; see plans/text._bpe_fixture_oracle), then the SAME greedy fold
    as the regex-unit oracle (shared `_duck_pack_tail`)."""
    import os

    from cc_pyspark_spark.plans.registry import fixture_values

    values = fixture_values(
        os.path.join(
            os.path.dirname(__file__), "..", "functions",
            "bpe_token_fixture.json",
        )
    )
    return f"""
WITH RECURSIVE toks AS (
  SELECT d.lang, d.doc_id,
         CAST(d.doc_id // {PACK_SHARD} AS BIGINT) AS shard,
         CAST(f.n_tokens AS BIGINT) AS n_tokens
  FROM documents d JOIN (VALUES {values}) AS f(h, n_tokens)
    ON md5(d.text) = f.h
), {_duck_pack_tail()}
"""


@register(
    "curation_pack_sequences_bpe",
    oracle=_duck_pack_bpe_oracle(),
    description="Greedy sequence packing with the REAL capacity unit: "
    "BPE token counts from the vendored tokenizer (functions/bpe.py, "
    "Arrow-batched pandas UDF) instead of the regex-word proxy; same "
    "applyInPandas-per-(lang, shard) fold. Oracle joins the committed "
    "md5(text)->count fixture into the recursive pack CTE",
    tags=("curation", "tokenizer", "pandas-udf"),
)
def curation_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences_frame(
        Catalog(spark, sf_dir).documents, tokenizer="bpe"
    )


# --------------------------------------------- data-mixing weights

#: Target language shares for the mixing demo: uniform over the five
#: fixture languages. Production passes measured shares; the plan is
#: identical (broadcast-sized per-stratum table).
MIX_TARGET_SHARE = 0.2


@register(
    "curation_mix_weights",
    oracle=f"""
WITH lt AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total FROM lt)
SELECT lang, n_docs, lang_tokens,
       ({MIX_TARGET_SHARE} * CAST(total AS DOUBLE)) /
         CAST(lang_tokens AS DOUBLE) AS mix_weight
FROM lt, tot
ORDER BY lang
""",
    description="Training-data mixing weights: per-language token mass -> "
    "per-doc sampling weight that reshapes the corpus to a target "
    "language share (uniform here; any target table works). One partial+ "
    "final agg keyed by lang; the totals row broadcasts — the stats stage "
    "every multi-source pre-training mix starts from",
    tags=("curation", "sample"),
)
def curation_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    lt = (
        t.documents.select("lang", F.size(tokenize("text")).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("lang_tokens"),
        )
    )
    tot = lt.agg(F.sum("lang_tokens").cast("bigint").alias("total"))
    return (
        lt.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            (
                (F.lit(MIX_TARGET_SHARE) * F.col("total").cast("double"))
                / F.col("lang_tokens").cast("double")
            ).alias("mix_weight"),
        )
        .orderBy("lang")
    )


# ---------------- full curation pipeline: gate → C4 → near-dedup → pack


def _duck_pipeline_full_oracle() -> str:
    """Chained replay of the FULL curation pipeline: Gopher gate (raw
    text) → planted-line C4 cleaning → exact-Jaccard near-dup pairs
    over the CLEANED text → recursive-CTE connected components → keep
    each cluster's min-doc_id survivor → hash train split → greedy
    packing. The near-dup stage takes the all-pairs exact-Jaccard set
    as its twin (the dedup_minhash_scale precedent: LSH recall on the
    fixture is complete — pinned by
    tests/test_curation_pipeline_full.py::test_pipeline_full_minhash_recall
    — and verification is exact, so the sets coincide; re-verify before
    committing regenerated testdata)."""
    from cc_pyspark_spark.plans.c4 import (  # noqa: PLC0415
        _AUG_DUCK as C4_AUG_DUCK,
        duck_c4_ctes,
        duck_c4_doc_sql,
    )
    from cc_pyspark_spark.plans.dedup import (  # noqa: PLC0415
        _DUCK_SHINGLES,
        JACCARD_THRESHOLD,
    )
    from cc_pyspark_spark.plans.text import (  # noqa: PLC0415
        GOPHER_GATE_SQL,
        duck_gopher_stats_ctes,
    )

    return f"""
WITH RECURSIVE {duck_gopher_stats_ctes('documents')},
keep AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN s USING (doc_id)
  WHERE {GOPHER_GATE_SQL}
),
aug AS (SELECT doc_id, lang, {C4_AUG_DUCK} AS text FROM keep),
{duck_c4_ctes('aug')},
c4doc AS (
  {duck_c4_doc_sql('aug', ' d.lang,')}
),
docs2 AS (
  SELECT doc_id, lang, cleaned_text AS text FROM c4doc WHERE c4_pass = 1
),
t2 AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM docs2),
sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM t2),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT a_id, b_id FROM inter
  JOIN sizes sa ON a_id = sa.doc_id
  JOIN sizes sb ON b_id = sb.doc_id
  WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT a_id AS s, b_id AS t FROM prs
  UNION
  SELECT b_id AS s, a_id AS t FROM prs
),
reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT e.s AS id, re.r AS r FROM edges e JOIN reach re ON re.id = e.t
),
comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
surv AS (
  SELECT d2.doc_id, d2.lang, d2.text
  FROM docs2 d2 LEFT JOIN comp c ON d2.doc_id = c.id
  WHERE c.comp IS NULL OR c.comp = d2.doc_id
),
tr AS (
  SELECT * FROM surv
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        IN ('0','1','2','3','4','5','6','7','8','9','a','b')
),
toks AS (
  SELECT lang, doc_id,
         CAST(doc_id // {PACK_SHARD} AS BIGINT) AS shard,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM tr
), {_duck_pack_tail()}
"""


@register(
    "curation_pipeline_full",
    oracle=_duck_pipeline_full_oracle(),
    description="The FULL training-data curation pipeline: Gopher doc gate "
    "(codegen columns, raw text) -> C4 line cleaning (planted line "
    "fixture; 8-byte line-frequency shuffle) -> MinHash+LSH near-dedup "
    "over the CLEANED text (band-bucketed candidates, exact-Jaccard "
    "verify) -> connected components (min-label propagation) keeping each "
    "cluster's min-doc_id survivor -> deterministic hash train split -> "
    "greedy sequence packing. The cleaned corpus is persisted once and "
    "feeds banding, survivor filter, and packing — two corpus scans total "
    "(C4's frequency pass + rebuild pass), everything downstream works on "
    "the gated remnant, which is the composition order a 100 TB run "
    "needs. Oracle chains the stage oracles with a recursive CTE for the "
    "clustering",
    tags=("curation", "dedup", "pipeline"),
)
def curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.dedup import minhash_lsh_pairs  # noqa: PLC0415
    from cc_pyspark_spark.operators.pagerank import (  # noqa: PLC0415
        connected_components,
    )
    from cc_pyspark_spark.plans.c4 import (  # noqa: PLC0415
        _AUG_SPARK as C4_AUG_SPARK,
        c4_clean_frame,
    )
    from cc_pyspark_spark.plans.text import gopher_signals_frame  # noqa: PLC0415

    docs = Catalog(spark, sf_dir).documents
    # Gate on the RAW text (doc-level quality), then plant the line
    # fixture on survivors only — the C4 stage and everything after it
    # never see gated-out documents. `carry` threads lang/text through
    # both stages so no stage joins back to the source.
    keep = (
        gopher_signals_frame(docs, carry=("lang", "text"))
        .filter(F.col("gopher_pass") == 1)
        .select("doc_id", "lang", "text")
    )
    # Persisted (r15): c4_clean_frame is the classic two-pass
    # frequency shape — it reads its input once for the line-frequency
    # table and once for the rebuild. Without this cache each pass
    # replayed the FULL Gopher signal computation + gate above; with
    # it the gate runs once and both C4 passes read the gated remnant.
    aug = keep.select(
        "doc_id", "lang", F.expr(C4_AUG_SPARK).alias("text")
    ).persist().transform(track_cache)
    # Persisted: the cleaned corpus feeds minhash banding, the survivor
    # anti-filter, and packing — at 100 TB this materialization is the
    # natural checkpoint (it is the post-gate remnant, a fraction of the
    # input).
    cleaned = (
        c4_clean_frame(aug, carry=("lang",))
        .filter(F.col("c4_pass") == 1)
        .select("doc_id", "lang", F.col("cleaned_text").alias("text"))
        .persist().transform(track_cache)
    )
    pairs = minhash_lsh_pairs(cleaned, threshold=0.5)
    edges = pairs.select(F.col("a_id").alias("s"), F.col("b_id").alias("t"))
    # Near-dup clusters are near-cliques (diameter ~1-2) — probe early.
    comp = connected_components(edges, max_iter=12, probe_every=2)
    surv = (
        cleaned.join(comp, cleaned.doc_id == comp.id, "left")
        .filter(
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id"))
        )
        .select("doc_id", "lang", "text")
    )
    first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    train = surv.filter(first.isin(*"0123456789ab"))
    packed = pack_sequences_frame(train)
    return packed.select(
        "lang", "shard", "doc_id", "n_tokens", "pack_seq", "pack_offset"
    )


@register(
    "curation_dataset_card",
    oracle=f"""
WITH per_doc AS (
  SELECT doc_id, lang, md5(text) AS fp,
         CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
              AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
), lang_counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM per_doc GROUP BY lang
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_texts
  FROM per_doc
), lang_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM lang_counts
)
SELECT t.n_docs, t.total_tokens, t.total_chars, l.n_langs,
       t.n_unique_texts,
       CAST(t.n_docs - t.n_unique_texts AS DOUBLE)
         / CAST(t.n_docs AS DOUBLE) AS dup_rate,
       CAST(t.n_docs * t.n_docs - l.sum_c2 AS DOUBLE)
         / CAST(t.n_docs * t.n_docs AS DOUBLE) AS lang_gini
FROM tot t CROSS JOIN lang_agg l
""",
    description="One-row dataset card — the datasheet numbers every "
    "corpus release publishes: document/token/char totals, language "
    "count and diversity, exact-duplicate rate. Diversity is the Gini "
    "impurity 1 - sum(share^2) computed as the exact integer rational "
    "(n^2 - sum(c^2)) / n^2 — a log-based entropy would break the "
    "cross-engine ulp contract (SCALING.md), Gini doesn't. One corpus "
    "scan, two metadata-sized aggregates; every count is BIGINT-exact "
    "with the two divisions on the final single row",
    tags=("curation",),
)
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dataset_card_frame(Catalog(spark, sf_dir).documents)


def dataset_card_frame(documents: DataFrame) -> DataFrame:
    """One-row dataset card for any documents frame (doc_id, text,
    lang) — shared by the registry query and the dataset_card CLI."""
    per_doc = documents.select(
        "lang",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.size(tokenize("text")).cast("bigint").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).persist().transform(track_cache)
    tot = per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.count_distinct("fp").cast("bigint").alias("n_unique_texts"),
    )
    lang_agg = (
        per_doc.groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("c"))
        .agg(
            F.count("*").cast("bigint").alias("n_langs"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        )
    )
    return tot.crossJoin(F.broadcast(lang_agg)).select(
        "n_docs",
        "total_tokens",
        "total_chars",
        "n_langs",
        "n_unique_texts",
        (
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
        (
            (F.col("n_docs") * F.col("n_docs") - F.col("sum_c2")).cast("double")
            / (F.col("n_docs") * F.col("n_docs")).cast("double")
        ).alias("lang_gini"),
    )


# --------------------------------------------------------------- DSIR (r9)

#: Feature-hash bucket count for DSIR importance weights. Bounded and
#: SMALL on purpose: the per-bucket ratio table is O(m) rows whatever
#: the corpus size, so it always broadcasts and the scoring pass stays
#: map-only. 2^13 matches the hashed-bigram regime of the DSIR paper's
#: smallest configs and populates densely even on the sf0.001 fixture.
DSIR_BUCKETS = 8192
#: Target distribution = the English subset (the fixture's stand-in
#: for "high-quality target corpus" — swap for any predicate).
DSIR_TARGET_LANG = "en"

_DSIR_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)"
_DSIR_TOKS_DUCK = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"


def _duck_dsir_oracle() -> str:
    m = DSIR_BUCKETS
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_DSIR_TOKS_DUCK} AS toks FROM documents
), g AS (
  SELECT doc_id, lang, unnest(
    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
  ) AS g FROM t
), bg AS (
  SELECT doc_id, lang,
         ((list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(g) + 1),
                            i -> CAST(ascii(substring(g, i, 1)) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1000003) * 2654435761) % {m}) AS b
  FROM g
), stats AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct
  FROM bg GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS r, CAST(SUM(ct) AS BIGINT) AS tt
  FROM stats
), lr AS (
  SELECT b,
         CAST(2 * ((ct + 1) * (r + {m}) - (cr + 1) * (tt + {m})) AS DOUBLE)
       / CAST((ct + 1) * (r + {m}) + (cr + 1) * (tt + {m}) AS DOUBLE) AS lr
  FROM stats CROSS JOIN tot
), cnts AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(CAST(cnt AS DOUBLE) * lr ORDER BY cnts.b)),
                     (a, x) -> a + x) AS weight
  FROM cnts JOIN lr ON cnts.b = lr.b GROUP BY 1
), docs AS (
  SELECT d.doc_id, COALESCE(p.n_feats, CAST(0 AS BIGINT)) AS n_feats,
         COALESCE(p.weight, 0.0) AS weight
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
), med AS (SELECT quantile_cont(weight, 0.5) AS med FROM docs)
SELECT doc_id, n_feats, weight, weight > med AS selected
FROM docs CROSS JOIN med
"""


@register(
    "curation_dsir_importance",
    oracle=_duck_dsir_oracle(),
    description="DSIR-style importance weighting (Xie et al. 2023, "
    "Data Selection via Importance Resampling): hashed-bigram bucket "
    "distributions of the TARGET subset (lang=en) vs the RAW corpus, "
    "add-1 smoothing, per-document weight = sum of per-feature "
    "log-ratio surrogates, selection gate = above the corpus median. "
    "The log-ratio uses the Pade approximant 2(p-q)/(p+q) computed "
    "from EXACT integer numerators/denominators with one double "
    "divide per bucket, so DuckDB replays it bit-for-bit (ln() is "
    "1-ulp engine-dependent — the text_top_terms_tfidf convention); "
    "per-doc sums fold in bucket order (sort_array / list ORDER BY). "
    "Scale: the bucket table is <= 8192 rows at ANY corpus size -> "
    "ratio table always broadcasts, scoring is one groupBy(doc_id, b) "
    "plus a map-side broadcast join; the integer products hold to "
    "~10^9-bigram corpora per the docstring bound — past that switch "
    "the ratio arithmetic to doubles (the selection gate, not the "
    "8-byte weight values, is the deployable output)",
    tags=("curation", "text", "scale"),
)
def curation_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return dsir_importance_frame(t.documents)


def dsir_importance_frame(
    documents: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, n_feats, weight, selected) DSIR importance frame over
    any documents table — the registered query's compute, exposed for
    the `dsir_select` CLI job (runner) and pipeline composition."""
    m = buckets
    bg = (
        "CASE WHEN size(toks) < 2 THEN array() "
        "ELSE transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END"
    )
    bucket = (
        "transform(bg, g -> ((aggregate(transform(sequence(1, length(g)), "
        "i -> ascii(substring(g, i, 1))), 0L, "
        "(a, c) -> (a * 31 + c) % 1000003) "
        f"* 2654435761L) % {m}L))"
    )
    # Persisted (r15): feats is map-only (no exchange of its own), so
    # its two differently-keyed consumers (stats by b, cnts by
    # (doc_id, b)) cannot share it via ReusedExchange — without the
    # cache the per-character hash fold over every bigram ran twice.
    feats = (
        documents.select("doc_id", "lang", F.expr(_DSIR_TOKS).alias("toks"))
        .select("doc_id", "lang", F.expr(bg).alias("bg"))
        .select("doc_id", "lang", F.explode(F.expr(bucket)).alias("b"))
        .persist().transform(track_cache)
    )
    stats = feats.groupBy("b").agg(
        F.count("*").cast("bigint").alias("cr"),
        F.sum(
            F.when(F.col("lang") == target_lang, 1).otherwise(0)
        ).cast("bigint").alias("ct"),
    )
    tot = stats.agg(
        F.sum("cr").cast("bigint").alias("r"),
        F.sum("ct").cast("bigint").alias("tt"),
    )
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.expr(f"cast(2 * ((ct + 1) * (r + {m}) - (cr + 1) * (tt + {m})) as double)")
            / F.expr(f"cast((ct + 1) * (r + {m}) + (cr + 1) * (tt + {m}) as double)")
        ).alias("lr"),
    )
    cnts = feats.groupBy("doc_id", "b").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    terms = cnts.join(F.broadcast(lr), "b").select(
        "doc_id", "b", (F.col("cnt").cast("double") * F.col("lr")).alias("term"), "cnt"
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_feats"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(b, term))), "
            "cast(0.0 as double), (a, x) -> a + x.term)"
        ).alias("weight"),
    )
    # Persisted (r15): docs feeds the W2 rank pass, the row-count
    # aggregate, and the final selection scan — three consumers of a
    # join + collect_list-fold lineage.
    docs = (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0).cast("bigint")).alias("n_feats"),
            F.coalesce("weight", F.lit(0.0)).alias("weight"),
        )
        .persist().transform(track_cache)
    )
    # Exact corpus median WITHOUT the single-group percentile
    # aggregate. Spark's exact percentile buffers a value->count map
    # (O(distinct values) with map-side merge — fine for small-int
    # columns like the graph pair counts), but over a CONTINUOUS
    # weight column distinct ~= rows, so the single group degenerates
    # to O(corpus) doubles in one task's buffer at 100 TB. Instead:
    # range-shuffle rank assignment
    # (the W2 operator — collect-free, checkpoint-pinned), pick the
    # two middle order statistics, and interpolate as
    # lo + 0.5 * (hi - lo) — STRUCTURALLY the same form Spark's
    # percentile and DuckDB's quantile_cont use (lo + (hi-lo)*frac),
    # so even-n results round identically on both sides; the
    # previously-used 0.5*lo + 0.5*hi algebraic twin can differ by
    # 1 ulp and flip the hash-gated `weight > med` boolean on a
    # boundary weight (r12 ADVICE). For odd n both ranks hit the
    # same row and the formula collapses to the exact value.
    # doc_id tie-breaks the sort key; the value AT a rank is
    # tie-order-invariant either way.
    from cc_pyspark_spark.operators.ids import (  # noqa: PLC0415
        assign_sequential_ids,
    )

    ranked = assign_sequential_ids(
        docs.select("weight", "doc_id"), ["weight", "doc_id"], id_col="__rid"
    )
    nrow = docs.agg(F.count("*").alias("__n"))
    sel = ranked.crossJoin(F.broadcast(nrow))
    lo = sel.filter(F.col("__rid") == F.expr("(__n - 1) div 2 + 1")).select(
        F.col("weight").alias("__wlo")
    )
    hi = sel.filter(F.col("__rid") == F.expr("__n div 2 + 1")).select(
        F.col("weight").alias("__whi")
    )
    med = lo.crossJoin(hi).select(
        (
            F.col("__wlo")
            + F.lit(0.5) * (F.col("__whi") - F.col("__wlo"))
        ).alias("med")
    )
    return docs.crossJoin(F.broadcast(med)).select(
        "doc_id",
        "n_feats",
        "weight",
        (F.col("weight") > F.col("med")).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Dataset release diffing (late r9): every versioned training corpus
# needs an added/removed/changed report between two snapshots. The
# load-bearing scale property: project each side down to (key, content
# hash) BEFORE the join, so the full-outer exchange ships 16-byte
# digests, never document bodies — at 100 TB the diff costs one join
# over keys, not a corpus copy.


def snapshot_diff_frame(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    payload: str = "text",
) -> DataFrame:
    """(key, change) for every row that differs between two snapshots:
    'added' (key only in new), 'removed' (only in old), 'changed'
    (both, payload hash differs). Unchanged rows are filtered before
    the result — the common case at 100 TB — so output is O(churn)."""
    # Presence flags, not digest nullability, drive the classification:
    # md5(NULL) is NULL, so a key present in both snapshots with a NULL
    # old payload must still classify as 'changed' (via the null-safe
    # comparison), never as 'added'.
    a = old.select(
        F.col(key),
        F.md5(F.col(payload).cast("binary")).alias("_ha"),
        F.lit(True).alias("_ina"),
    )
    b = new.select(
        F.col(key),
        F.md5(F.col(payload).cast("binary")).alias("_hb"),
        F.lit(True).alias("_inb"),
    )
    j = a.join(b, key, "full_outer")
    return (
        j.select(
            key,
            F.when(F.col("_ina").isNull(), F.lit("added"))
            .when(F.col("_inb").isNull(), F.lit("removed"))
            .when(~F.col("_ha").eqNullSafe(F.col("_hb")), F.lit("changed"))
            .alias("change"),
            F.col("_ha").alias("old_md5"),
            F.col("_hb").alias("new_md5"),
        )
        .where(F.col("change").isNotNull())
    )


@register(
    "curation_snapshot_diff",
    oracle="""
WITH u AS (
  SELECT doc_id, md5(text) AS h,
    ((strpos('0123456789abcdef', substr(md5(text),7,1))-1)*16
     + (strpos('0123456789abcdef', substr(md5(text),8,1))-1)) AS u4
  FROM documents
),
old AS (SELECT doc_id, h FROM u),
new AS (
  SELECT doc_id,
         CASE WHEN u4 % 17 = 0 THEN md5(h) ELSE h END AS h
  FROM u WHERE u4 % 19 <> 0
  UNION ALL
  SELECT doc_id + 1000000, md5(h || 'new') FROM u WHERE u4 % 23 = 0
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            WHEN old.h <> new.h THEN 'changed' END AS change,
       old.h AS old_md5, new.h AS new_md5
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE (CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            WHEN old.h <> new.h THEN 'changed' END) IS NOT NULL
""",
    description="Dataset release diff: a deterministic 'next release' "
    "is derived from the documents table (md5-nibble selected ~5% "
    "removed, ~6% edited, ~4% added under shifted keys), and "
    "snapshot_diff_frame reports added/removed/changed via ONE "
    "full-outer join over (key, md5) projections — digests ship "
    "through the exchange, never document bodies, so the diff is "
    "O(keys) + O(churn) at any corpus size. The oracle replays the "
    "derivation and classification in pure SQL",
    tags=("curation", "scale"),
)
def curation_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    u = t.documents.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
        (
            F.conv(
                F.substring(F.md5(F.col("text").cast("binary")), 7, 2), 16, 10
            ).cast("long")
        ).alias("u4"),
    )
    old = u.select("doc_id", "h")
    new = (
        u.where(F.col("u4") % 19 != 0)
        .select(
            "doc_id",
            F.when(F.col("u4") % 17 == 0, F.md5("h")).otherwise(
                F.col("h")
            ).alias("h"),
        )
        .unionAll(
            u.where(F.col("u4") % 23 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5(F.concat(F.col("h"), F.lit("new"))).alias("h"),
            )
        )
    )
    # payload columns here are already hashes; identity-hash them again
    # through snapshot_diff_frame's md5 would diverge from the oracle,
    # so diff on the precomputed digests directly (same join shape).
    a = old.select("doc_id", F.col("h").alias("_ha"))
    b = new.select("doc_id", F.col("h").alias("_hb"))
    j = a.join(b, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .when(F.col("_ha") != F.col("_hb"), F.lit("changed"))
        .alias("change"),
        F.col("_ha").alias("old_md5"),
        F.col("_hb").alias("new_md5"),
    ).where(F.col("change").isNotNull())


# --------------- weighted priority sampling (r9, Duffield-Lund-Thorup)
#
# Uniform hash gates (curation_hash_sample) keep each document with
# equal probability; training-data subsampling usually wants
# probability PROPORTIONAL TO SIZE (token mass), with an unbiased
# estimator for any subset's total tokens from the sample alone.
# Priority sampling (Duffield, Lund & Thorup 2007, public literature)
# is the standard answer: priority = w / u with u uniform in (0, 1],
# keep the k largest priorities, estimate each kept item's weight as
# max(w, tau) where tau is the (k+1)-th priority — E[sum] is exactly
# the population total, with near-optimal variance among k-sample
# schemes. The exponent-free formulation matters here: the
# Efraimidis-Spirakis twin (u^(1/w)) needs pow(), which is 1-ulp
# cross-engine; w/u is one double division and oracles bit-for-bit.
#
# u derives from the deterministic polynomial char hash (seedless,
# never rand()): u = (h+1)/P in (0, 1]. Scale shape: priorities are
# map-only column algebra; the global top-(k+1) is a
# TakeOrderedAndProject (per-partition heads, never a full sort); tau
# is a 1-row broadcast over the checkpointed 101-row head.

PRIORITY_SAMPLE_K = 100


#: 16^12 = 2^48 — the md5-nibble hash range. A power of two, so
#: w * PS_RANGE is EXACT in IEEE doubles for any integer w (exponent
#: shift only), which is what keeps the priority division bit-stable
#: cross-engine. (The polynomial char hash used elsewhere is NOT
#: uniform on short sequential keys like 'ps:123' — the fold barely
#: wraps the modulus, piling every u into (0.25, 1]; md5 nibbles are.)
PS_RANGE = 16 ** 12


def _duck_ps_hash(col: str) -> str:
    """First 12 md5 hex nibbles of ``col`` as a bigint in [0, 16^12)."""
    return f"""list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(range(1, 13),
      i -> CAST(instr('0123456789abcdef',
                      substr(md5({col}), i, 1)) - 1 AS BIGINT))),
    (a, c) -> a * 16 + c)"""


#: Spark side of the same hash: the repo's established one-line conv()
#: idiom (snapshot_diff, multimodal nib) — only DuckDB needs the
#: explicit nibble fold, because DuckDB has no conv().
def _spark_ps_hash(col: str) -> str:
    return f"CAST(conv(substr(md5({col}), 1, 12), 16, 10) AS BIGINT)"


def _duck_priority_oracle() -> str:
    k = PRIORITY_SAMPLE_K
    return f"""
WITH w AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKS}) AS BIGINT) AS w,
         'ps:' || CAST(doc_id AS STRING) AS key
  FROM documents
), h AS (
  SELECT doc_id, w, {_duck_ps_hash("key")} AS h FROM w
), p AS (
  SELECT doc_id, w,
         CAST(w AS DOUBLE) * {PS_RANGE} / CAST(h + 1 AS DOUBLE) AS pri
  FROM h
), r AS (
  SELECT doc_id, w, pri,
         ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS rn
  FROM p
), tau AS (
  -- always one row: 0.0 when the corpus has <= k docs, so the sample
  -- degrades to keep-everything with adj_weight = w (DLT n <= k case)
  SELECT COALESCE(MAX(CASE WHEN rn = {k + 1} THEN pri END), 0.0) AS tau
  FROM r
)
SELECT doc_id, w, pri, greatest(CAST(w AS DOUBLE), tau) AS adj_weight
FROM r CROSS JOIN tau
WHERE rn <= {k}
"""


@register(
    "curation_priority_sample",
    oracle=_duck_priority_oracle(),
    description="Weighted priority sampling (beyond-reference, Duffield-"
    "Lund-Thorup): keep the k=100 documents with largest priority "
    "w/u (w = token count, u = deterministic hash uniform in (0,1]), "
    "report max(w, tau) per kept doc with tau = the (k+1)-th priority — "
    "an UNBIASED estimator of any subset's token mass from the sample "
    "alone (pinned statistically in pytest). Priorities are map-only "
    "column algebra; the top-(k+1) is a TakeOrderedAndProject "
    "(per-partition heads, no global sort); tau broadcasts from the "
    "checkpointed 101-row head. The exponent-free w/u form (not the "
    "Efraimidis-Spirakis u^(1/w)) is what makes the full-value oracle "
    "hold — no pow() crosses the engines",
    tags=("curation", "sample"),
)
def curation_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return priority_sample_frame(t.documents, k=PRIORITY_SAMPLE_K)


def priority_sample_frame(
    documents: DataFrame, k: int = PRIORITY_SAMPLE_K, salt: str = "ps:"
) -> DataFrame:
    """``salt`` re-draws the hash uniforms — the unbiasedness pytest
    averages the estimator across salts; the registered query and the
    oracle pin the default draw."""
    w = documents.select(
        "doc_id",
        F.size(tokenize("text")).cast("bigint").alias("w"),
        F.concat(F.lit(salt), F.col("doc_id").cast("string")).alias("key"),
    )
    p = w.select(
        "doc_id",
        "w",
        (
            F.col("w").cast("double")
            * F.lit(PS_RANGE)
            / (F.expr(_spark_ps_hash("key")) + F.lit(1)).cast("double")
        ).alias("pri"),
    )
    # TakeOrderedAndProject head (plan-shape-pinned via priority_head);
    # eager checkpoint so tau and the kept set don't re-run the corpus
    # scan (<= k+1 rows).
    head = priority_head(p, k).localCheckpoint(eager=True)
    rn = head.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("pri").desc(), "doc_id")
        ),
    )
    # tau is always one row: 0.0 when the corpus has <= k docs, so the
    # sample degrades to keep-everything with adj_weight = w (the DLT
    # n <= k case) instead of annihilating on an empty cross join.
    tau = rn.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("pri"))), F.lit(0.0)
        ).alias("tau")
    )
    return (
        rn.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "w",
            "pri",
            F.greatest(F.col("w").cast("double"), F.col("tau")).alias(
                "adj_weight"
            ),
        )
    )


def priority_head(priorities: DataFrame, k: int) -> DataFrame:
    """Global top-(k+1) of the priority frame — split out so the
    plan-shape pytest pins TakeOrderedAndProject on the REAL builder,
    not a lookalike."""
    return priorities.orderBy(F.col("pri").desc(), "doc_id").limit(k + 1)


# ---------------------------------------------------------------------------
# Per-domain document caps (r10): real crawls are head-heavy — a few
# domains contribute millions of near-template pages. Capping documents
# per domain by a deterministic priority (here content length, doc_id
# tie-break; any score column plugs in) is the standard head-domain
# downsampler every production corpus applies before dedup. The scale
# shape is the keyed rank window: Spark >= 3.5 rewrites rank <= K
# filters into WindowGroupLimit, which keeps only K rows PER GROUP on
# the map side before the exchange — so a 10^8-page head domain ships K
# rows, not 10^8, through the shuffle (plan-pinned in
# tests/test_plan_shape.py).

#: Documents kept per source domain by the registered query.
DOMAIN_CAP_K = 15


@register(
    "curation_domain_cap",
    oracle=f"""
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
  FROM documents
) WHERE rk <= {DOMAIN_CAP_K}
""",
    description="Per-domain document cap (head-domain downsampling): "
    f"keep the top {DOMAIN_CAP_K} documents per source domain by "
    "(n_chars desc, doc_id asc) — a total order, so the kept set is "
    "deterministic and engine-independent. The rank <= K filter rides "
    "WindowGroupLimit (plan-pinned): each domain ships K rows through "
    "the exchange regardless of its size, which is what makes the cap "
    "viable on head-heavy crawls where one domain holds 10^8 pages",
    tags=("curation", "scale"),
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return domain_cap_frame(t.documents, DOMAIN_CAP_K)


def domain_cap_frame(
    docs: DataFrame, k: int, domain_col: str = "source"
) -> DataFrame:
    w = Window.partitionBy(domain_col).orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            F.col(domain_col).alias("source"),
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= k)
    )


def quota_admission_frame(
    docs: DataFrame, k: int, domain_col: str = "source"
) -> DataFrame:
    """Batch replay of the STREAMING per-domain quota gate
    (streaming/curation.py domain_quota_gate): admit the first ``k``
    documents per domain in the gate's deterministic arrival order
    (doc_id ascending) — first-come ADMISSION, not rank-best-K. The
    streaming gate over the same rows admits exactly this set (its
    batch-parity pytest pins the equality), so this frame is the
    batch-side contract for the one cap an unbounded stream can
    enforce."""
    w = Window.partitionBy(domain_col).orderBy(F.col("doc_id"))
    return (
        docs.select(
            "doc_id",
            F.col(domain_col).alias("source"),
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= k)
    )


@register(
    "curation_quota_semantics",
    oracle=f"""
WITH r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS rk_rank,
         ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY doc_id) AS rk_adm
  FROM documents
)
SELECT doc_id, source, n_chars,
       CAST(CASE WHEN rk_rank <= {DOMAIN_CAP_K} THEN 1 ELSE 0 END
            AS BIGINT) AS rank_kept,
       CAST(CASE WHEN rk_adm <= {DOMAIN_CAP_K} THEN 1 ELSE 0 END
            AS BIGINT) AS admitted
FROM r
WHERE (rk_rank <= {DOMAIN_CAP_K}) <> (rk_adm <= {DOMAIN_CAP_K})
""",
    description="Batch-vs-streaming quota-gate semantics as a "
    "hash-checked CONTRACT (VERDICT r10 ask #7): the batch domain cap "
    f"RANKS (best {DOMAIN_CAP_K} per domain by n_chars desc, doc_id) "
    "while the streaming gate ADMITS (first-come in doc_id order — "
    "the only cap an unbounded stream can enforce); this query "
    "computes BOTH policies on the same documents frame and emits the "
    "DISAGREEMENT set (rows kept by exactly one policy, with 0/1 "
    "flags per policy). Both row_number windows share the domain "
    "partition key, so the plan pays ONE exchange and two in-partition "
    "sorts; the analytic oracle replays both windows independently. "
    "The admission side equals the real applyInPandasWithState gate's "
    "output by the batch-parity pin in tests/test_streaming_quota.py",
    tags=("curation", "streaming", "llm"),
)
def curation_quota_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    k = DOMAIN_CAP_K
    w_rank = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    w_adm = Window.partitionBy("source").orderBy(F.col("doc_id"))
    flagged = t.documents.select(
        "doc_id",
        "source",
        "n_chars",
        (F.row_number().over(w_rank) <= k).alias("rank_kept_b"),
        (F.row_number().over(w_adm) <= k).alias("admitted_b"),
    )
    return flagged.filter(
        F.col("rank_kept_b") != F.col("admitted_b")
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.col("rank_kept_b").cast("bigint").alias("rank_kept"),
        F.col("admitted_b").cast("bigint").alias("admitted"),
    )


# ---------------------------------------------------------------------------
# Token-budget mix allocation (r10): multilingual/multi-source training
# runs fix a TOTAL token budget and apportion it across strata with
# temperature-scaled weights (alpha=0.5 here — sqrt damping, the
# standard multilingual-sampling temperature), then need EXACT integer
# allocations that sum to the budget. This is Hamilton largest-remainder
# apportionment run distributed: per-stratum token counts (one grouped
# agg), sqrt weights in floor(x*1e6) fixed point (sqrt is IEEE
# correctly-rounded, so the fixed-point weights are bit-identical across
# engines), integer-exact quotas via one division, floors, and the
# leftover distributed to the largest fractional remainders (lang
# tie-break). The rank window runs over the STRATA frame (a handful of
# rows — same K-row-frame discipline as priority sampling's tau), never
# over documents.

#: Total token budget the registered query apportions.
MIX_BUDGET = 1_000_000


def _mix_alloc_ctes(budget: int) -> str:
    """The Hamilton-apportionment CTE chain (shared by the mix query's
    oracle and the mix-execution query's oracle): ends in an ``alloc``
    CTE with (lang, n_tokens, wfp, alloc)."""
    return f"""c AS (
  SELECT lang,
         CAST(SUM(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS wfp
  FROM c
), s AS (
  SELECT CAST(SUM(wfp) AS BIGINT) AS s FROM w
), q AS (
  SELECT lang, n_tokens, wfp,
         CAST({budget} * wfp AS DOUBLE) / CAST((SELECT s FROM s) AS DOUBLE)
           AS quota
  FROM w
), b AS (
  SELECT lang, n_tokens, wfp,
         CAST(floor(quota) AS BIGINT) AS base,
         quota - floor(quota) AS frac
  FROM q
), lo AS (
  SELECT {budget} - CAST(SUM(base) AS BIGINT) AS leftover FROM b
), alloc AS (
  SELECT lang, n_tokens, wfp,
         base + CASE WHEN ROW_NUMBER() OVER (ORDER BY frac DESC, lang)
                          <= (SELECT leftover FROM lo)
                     THEN 1 ELSE 0 END AS alloc
  FROM b
)"""


@register(
    "curation_token_budget_mix",
    oracle="WITH "
    + _mix_alloc_ctes(MIX_BUDGET)
    + "\nSELECT lang, n_tokens, wfp, alloc FROM alloc",
    description="Token-budget mix apportionment (Hamilton largest-"
    "remainder) across language strata with temperature-0.5 weights: "
    "per-lang token counts (one grouped agg over the corpus — the only "
    "data-sized stage), sqrt weights in floor(x*1e6) fixed point "
    "(sqrt is correctly rounded, so weights are engine-identical), "
    f"exact integer quotas of the {MIX_BUDGET}-token budget, floors, "
    "and leftover units to the largest fractional remainders. The rank "
    "window runs over the STRATA frame (|langs| rows), never documents; "
    "output is all-integer and sums exactly to the budget (pinned)",
    tags=("curation", "llm"),
)
def curation_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return token_budget_mix_frame(t.documents, MIX_BUDGET)


def token_budget_mix_frame(docs: DataFrame, budget: int) -> DataFrame:
    c = docs.groupBy("lang").agg(
        F.sum(
            F.expr(f"size(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0))")
        )
        .cast("bigint")
        .alias("n_tokens")
    )
    w = c.select(
        "lang",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("wfp"),
    )
    s = w.agg(F.sum("wfp").cast("bigint").alias("s"))
    b = w.crossJoin(F.broadcast(s)).select(
        "lang",
        "n_tokens",
        "wfp",
        F.floor(
            (F.lit(budget) * F.col("wfp")).cast("double")
            / F.col("s").cast("double")
        )
        .cast("bigint")
        .alias("base"),
        (
            (F.lit(budget) * F.col("wfp")).cast("double")
            / F.col("s").cast("double")
            - F.floor(
                (F.lit(budget) * F.col("wfp")).cast("double")
                / F.col("s").cast("double")
            )
        ).alias("frac"),
    )
    lo = b.agg(
        (F.lit(budget) - F.sum("base")).cast("bigint").alias("leftover")
    )
    rk = Window.orderBy(F.col("frac").desc(), F.col("lang"))
    return (
        b.crossJoin(F.broadcast(lo))
        .select(
            "lang",
            "n_tokens",
            "wfp",
            (
                F.col("base")
                + F.when(
                    F.row_number().over(rk).cast("bigint")
                    <= F.col("leftover"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )


# ---------------------------------------------------------------------------
# Mix EXECUTION (r10): the apportionment above says how many tokens
# each stratum gets; this operator actually selects the documents —
# greedy prefix fill per stratum in a deterministic priority order
# (n_chars desc, doc_id) until the next document would cross the
# stratum's allocation. Scale shape: the per-stratum cumulative token
# sum does NOT run as a per-stratum window (a head stratum would land
# on one reducer) — it reuses the W2 range-prefix scan over the
# lang-major global order, then subtracts each stratum's broadcast
# exclusive-prefix base, turning the global running sum into per-lang
# running sums with zero extra shuffles.

#: Token budget of the registered EXECUTION query — deliberately
#: smaller than the corpus at every sf so the greedy cutoff bites.
MIX_EXEC_BUDGET = 8_000

_NTOK = f"size(regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0))"
_DUCK_NTOK = f"len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))"


@register(
    "curation_mix_execute",
    oracle="WITH "
    + _mix_alloc_ctes(MIX_EXEC_BUDGET)
    + f""",
d AS (
  SELECT doc_id, lang, n_chars, CAST({_DUCK_NTOK} AS BIGINT) AS n_tok
  FROM documents
), r AS (
  SELECT doc_id, lang, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY lang
              ORDER BY n_chars DESC, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
  FROM d
)
SELECT r.doc_id, r.lang, r.n_tok, r.cum_tok
FROM r JOIN alloc a ON r.lang = a.lang
WHERE r.cum_tok <= a.alloc
""",
    description="Token-budget mix EXECUTION: documents fill each "
    "language stratum's Hamilton allocation greedily in (n_chars desc, "
    "doc_id) priority order until the next document would cross the "
    f"budget ({MIX_EXEC_BUDGET} tokens — below every sf's corpus so "
    "the cutoff always bites). Scale shape: per-stratum running token "
    "sums come from ONE global range-prefix scan in lang-major order "
    "minus each stratum's broadcast exclusive-prefix base — never a "
    "per-stratum window, so a head stratum cannot single-reducer the "
    "plan; the allocation table is |langs| rows and broadcasts. "
    "Composes curation_token_budget_mix's apportionment (shared CTE "
    "generator in the oracle — the two can never drift)",
    tags=("curation", "llm", "scale"),
)
def curation_mix_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    return mix_execute_frame(t.documents, MIX_EXEC_BUDGET)


def mix_execute_frame(docs: DataFrame, budget: int) -> DataFrame:
    """Frame-level mix execution (the `mix_select` CLI job reuses it
    over any (doc_id, lang, n_chars, text) table)."""
    from cc_pyspark_spark.operators.ids import range_prefix_scan  # noqa: PLC0415

    alloc = token_budget_mix_frame(docs, budget).select("lang", "alloc")
    d = docs.select(
        "doc_id",
        "lang",
        F.expr(_NTOK).cast("bigint").alias("n_tok"),
        (-F.col("n_chars")).alias("negchars"),
    )
    scanned = range_prefix_scan(
        d, ["lang", "negchars", "doc_id"], [("n_tok", "sum")]
    )
    # exclusive per-lang prefix base: total tokens of all langs sorting
    # BEFORE this one (|langs|-row frame, broadcast self-join)
    totals = d.groupBy("lang").agg(F.sum("n_tok").cast("bigint").alias("tt"))
    prior = totals.select(
        F.col("lang").alias("plang"), F.col("tt").alias("ptt")
    )
    base = (
        totals.join(F.broadcast(prior), F.col("plang") < F.col("lang"), "left")
        .groupBy("lang")
        .agg(F.coalesce(F.sum("ptt"), F.lit(0)).cast("bigint").alias("base"))
    )
    return (
        scanned.join(F.broadcast(base), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tok",
            (F.col("scan_sum_n_tok") - F.col("base"))
            .cast("bigint")
            .alias("cum_tok"),
        )
        .join(F.broadcast(alloc), "lang")
        .filter(F.col("cum_tok") <= F.col("alloc"))
        .select("doc_id", "lang", "n_tok", "cum_tok")
    )


# ----------------------------------- strided chunking (r11)

#: Chunk capacity and stride for the registered chunking query. A
#: 64-token window with stride 48 (16-token overlap) is the classic
#: long-document prep shape scaled to the fixture's 30-110-token
#: documents; production swaps in 2048/1920 etc. — the plan is
#: identical at any width.
CHUNK_MAX_TOKENS = 64
CHUNK_STRIDE = 48


@register(
    "curation_chunk_overlap",
    oracle=f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks), 1), {CHUNK_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start,
       CAST(len(list_slice(toks, start + 1, start + {CHUNK_MAX_TOKENS}))
            AS BIGINT) AS n_tokens,
       array_to_string(
           list_slice(toks, start + 1, start + {CHUNK_MAX_TOKENS}), ' ')
         AS chunk_text
FROM s
""",
    description="Strided long-document chunking — the complement of "
    "sequence packing (packing merges short docs; this splits long "
    f"ones): token windows of {CHUNK_MAX_TOKENS} with stride "
    f"{CHUNK_STRIDE} ({CHUNK_MAX_TOKENS - CHUNK_STRIDE}-token overlap "
    "so no context is lost at chunk boundaries — the standard "
    "pre-training / embedding-indexing prep). Pure Catalyst: one "
    "tokenize, sequence() of window starts, posexplode, slice + "
    "array_join — map-only end to end, NO shuffle at all (the plan's "
    "scale claim: chunking 100 TB is scan-throughput work). The "
    "oracle replays windows with DuckDB range()/list_slice "
    "(exclusive-stop range == Spark's inclusive sequence(0, n-1) on "
    "every boundary case, incl. exact-multiple token counts)",
    tags=("curation", "llm", "scale"),
)
def curation_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.functions.text import tokenize  # noqa: PLC0415

    t = Catalog(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", tokenize("text").alias("toks")
    ).withColumn(
        "starts",
        F.sequence(
            F.lit(0),
            F.greatest(F.size("toks") - 1, F.lit(0)),
            F.lit(CHUNK_STRIDE),
        ),
    )
    ex = toks.select(
        "doc_id", "toks", F.explode("starts").alias("start")
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_MAX_TOKENS)
    return ex.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.col("start").cast("bigint").alias("start"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


#: Epochs assigned by the training-order shuffle. Each epoch is an
#: independent pseudorandom permutation of the corpus.
_SHUFFLE_EPOCHS = 3


@register(
    "curation_epoch_shuffle",
    oracle=f"""
WITH ep AS (
  SELECT d.doc_id, e.epoch,
         md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
           AS digest
  FROM documents d,
       (SELECT unnest(range(1, {_SHUFFLE_EPOCHS + 1})) AS epoch) e
)
SELECT epoch, doc_id, digest,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                               ORDER BY digest, doc_id) AS BIGINT) AS rank
FROM ep
""",
    description="Per-epoch training-order shuffle (the data-loader "
    "contract: every epoch is an independent, REPRODUCIBLE "
    "pseudorandom permutation, identical on any cluster layout): "
    "order key = md5(epoch:doc_id) — a keyed hash, so epoch 2's order "
    "is uncorrelated with epoch 1's and any worker can recompute any "
    "slice without coordination. Ranks are assigned by the W2 "
    "collect-free range-shuffle operator (assign_sequential_ids over "
    "(epoch, digest, doc_id)) — global ids convert to within-epoch "
    "ranks by subtracting (epoch-1)*n_docs with n_docs a broadcast "
    "1-row count, so NO single-partition window anywhere: the oracle "
    "replays the same order with the per-epoch global window Spark "
    "must not use at 100 TB. Epoch fan-out is a 3x explode before the "
    "range exchange — shuffling E epochs of 100 TB costs E range "
    "shuffles and nothing else",
    tags=("curation", "llm", "scale"),
)
def curation_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cc_pyspark_spark.operators.ids import (  # noqa: PLC0415
        assign_sequential_ids,
    )

    t = Catalog(spark, sf_dir)
    ep = (
        t.documents.select("doc_id")
        .withColumn(
            "epoch",
            F.explode(
                F.sequence(F.lit(1), F.lit(_SHUFFLE_EPOCHS))
            ),
        )
        .withColumn(
            "digest",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("epoch").cast("string"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
    )
    ids = assign_sequential_ids(
        ep, ["epoch", "digest", "doc_id"], id_col="gid"
    )
    n_docs = F.broadcast(
        t.documents.agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    return ids.crossJoin(n_docs).select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "doc_id",
        "digest",
        (
            F.col("gid") - (F.col("epoch") - 1).cast("bigint") * F.col("n_docs")
        ).alias("rank"),
    )
