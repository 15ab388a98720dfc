"""Training-data pipeline operators over documents/embeddings.

The operations a large-scale corpus pipeline needs beyond the
reference's surface: dedup (exact → fingerprint), text analysis
(token stats, language ID, quality scoring). Sketch-based dedup
(MinHash/SimHash) and similarity search live in their own modules
(operators/dedup.py, operators/similarity.py) and register here too.

Integer outputs are always BIGINT and double outputs rounded, so the
driver's schema/value-hash comparison is stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.functions.hashing import hash64, hash64_sql
from storm_bench_spark.functions.text import (
    LANG_MARKERS,
    WS_RUN_PATTERN,
    STOPWORDS,
    bind,
    lang_scores,
    quality_features,
    word_split,
)
from storm_bench_spark.operators.dedup import shingle_array
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources.tables import _path_bytes, load_table

# explicit char class, not \s: RE2's \s excludes \x0b while Java's
# includes it — the class makes both engines tokenize identically by
# construction (functions/text.py:WS_RUN_PATTERN rule)
_WORDS_SQL = f"list_filter(string_split_regex(text, '{WS_RUN_PATTERN}'), w -> w <> '')"


def _conf_bytes(spark, key: str, default: int) -> int:
    """A byte-valued Spark conf as an int. SQLConf renders byte confs
    with an optional unit suffix (``134217728b``, ``128m``); parse the
    common suffixes rather than assuming bare digits."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    for suffix, m in mult.items():
        if raw.endswith(suffix):
            return int(raw[: -len(suffix)]) * m
    return int(raw)


def _spread(df, sf_dir: str, table: str = "documents"):
    """Fan a small-file scan across the cluster for CPU-bound feature
    extraction — CONDITIONALLY. The fixture's documents table is a
    single parquet row group (one scan partition), which would
    serialize the regex/token work onto one core, so a round-robin
    repartition to ``defaultParallelism`` wins there. But
    ``repartition()`` always shuffles: at production scale a
    splittable input already arrives in >= defaultParallelism splits,
    and the same exchange would move the entire corpus text across
    the network for zero benefit. So: skip the repartition whenever
    the scan will already yield enough splits.

    The split count is ESTIMATED from the input's on-disk bytes
    (``ceil(bytes / spark.sql.files.maxPartitionBytes)`` — a floor on
    what FilePartition packing produces, since sub-128MiB bytesPerCore
    only shrinks the split size), NOT probed via ``df.rdd`` as in
    round 6: the probe forced analysis + physical planning + a
    Python↔JVM RDD conversion per query build, ~180 ms × 21 call
    sites per bench run (VERDICT r6 #3). The estimate errs toward
    repartitioning (a single-row-group small file planning as one
    split still estimates ≥1), which is the safe side: the exchange
    is only wasteful when the input is big, and big inputs estimate
    high. Same byte-derived sizing rule streaming/streams.py uses for
    state partitions.
    """
    sc = df.sparkSession.sparkContext
    max_split = _conf_bytes(
        df.sparkSession, "spark.sql.files.maxPartitionBytes", 128 << 20
    )
    est_splits = -(-_path_bytes(os.path.join(sf_dir, f"{table}.parquet")) // max_split)
    if est_splits >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


# --- token counting ------------------------------------------------------

@register(
    "token_count",
    oracle=f"""
SELECT doc_id, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
""",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + actual char length per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(word_split("text")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


# --- exact dedup ---------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash, count(*) AS cnt, min(doc_id) AS keeper
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the lowest doc_id.

    At 100 TB this is the cheapest dedup pass: map-side partial
    aggregation on md5(text) means the shuffle carries one row per
    distinct document, not per input row.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("cnt"), F.min("doc_id").alias("keeper")
    )


# --- language ID (marker-word heuristic) ---------------------------------

def _lang_id_sql() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"CAST(len(list_filter({_WORDS_SQL}, w -> list_contains([{lst}], lower(w)))) AS BIGINT) AS s_{lang}"
        )
    langs = list(LANG_MARKERS)
    # argmax with fixed priority order (first language wins ties)
    cond = []
    for i, lang in enumerate(langs[:-1]):
        geqs = " AND ".join(f"s_{lang} >= s_{other}" for other in langs if other != lang)
        cond.append(f"WHEN {geqs} THEN '{lang}'")
    case = "CASE " + " ".join(cond) + f" ELSE '{langs[-1]}' END"
    scores = ",\n       ".join(score_cols)
    return f"""
SELECT doc_id, {case} AS pred_lang, s_en
FROM (SELECT doc_id, {scores} FROM documents)
"""


@register("lang_id", oracle=_lang_id_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: per-language stopword hit counts (one
    tokenization per row, scores materialized behind a Generate
    barrier), argmax with a fixed priority order for ties."""
    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    scored = docs.select(
        "doc_id", F.explode(F.array(lang_scores("text"))).alias("s")
    ).select("doc_id", "s.*")
    langs = list(LANG_MARKERS)
    pred = None
    for lang in langs[:-1]:
        geqs = None
        for other in langs:
            if other == lang:
                continue
            cmp_ = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            geqs = cmp_ if geqs is None else (geqs & cmp_)
        pred = F.when(geqs, F.lit(lang)) if pred is None else pred.when(geqs, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))
    return scored.select("doc_id", pred.alias("pred_lang"), "s_en")


# --- quality scoring -----------------------------------------------------

_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

@register(
    "quality_score",
    oracle=f"""
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN n_tokens > 0 THEN CAST(total_wlen AS DOUBLE) / n_tokens ELSE 0e0 END, 6) AS avg_token_len,
       round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0e0 END, 6) AS stopword_ratio,
       round(CASE WHEN length(text) > 0 THEN CAST(n_punct AS DOUBLE) / length(text) ELSE 0e0 END, 6) AS punct_ratio
FROM (
  SELECT doc_id, text,
         len({_WORDS_SQL}) AS n_tokens,
         CAST(coalesce(list_sum(list_transform({_WORDS_SQL}, w -> length(w))), 0) AS BIGINT) AS total_wlen,
         len(list_filter({_WORDS_SQL}, w -> list_contains([{_STOP_LIST}], lower(w)))) AS n_stop,
         length(text) - length(regexp_replace(text, '[^0-9A-Za-z_ \\t\\n\\x0b\\f\\r]', '', 'g')) AS n_punct
  FROM documents
)
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap corpus-quality signals: token count, mean token length,
    stopword ratio, punctuation ratio — one tokenization per row,
    features materialized once behind a Generate barrier."""
    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    q = docs.select(
        "doc_id", F.explode(F.array(quality_features("text"))).alias("q")
    )
    return q.select(
        "doc_id",
        F.col("q.n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("q.avg_token_len"), 6).alias("avg_token_len"),
        F.round(F.col("q.stopword_ratio"), 6).alias("stopword_ratio"),
        F.round(F.col("q.punct_ratio"), 6).alias("punct_ratio"),
    )


# --- document fingerprint (min-hash of word 3-gram shingles) -------------

@register(
    "doc_fingerprint",
    oracle=f"""
WITH words AS (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents)
SELECT doc_id,
       CASE WHEN len(w) >= 3 THEN
         list_min(list_transform(
           list_transform(range(1, greatest(len(w) - 1, 1)),
                          i -> concat_ws(' ', w[i], w[i+1], w[i+2])),
           sh -> {hash64_sql('sh')}))
       ELSE {hash64_sql('text')} END AS fp
FROM words
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: min portable-hash over word 3-gram shingles
    (k-min sketch with k=1); whole-text hash fallback for short docs.

    The min folds over the per-row shingle array (``array_min`` over
    ``transform``) — a pure narrow map with no explode, no shuffle, and
    no join; at 100 TB the fingerprint costs exactly one scan. The token
    array is let-bound (``bind``) so the split runs once per row, not
    once per shingle.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = bind(
        word_split("text"),
        lambda wv: F.when(
            F.size(wv) >= 3, F.array_min(F.transform(shingle_array(wv), hash64))
        ).otherwise(hash64("text")),
    )
    return docs.select("doc_id", fp.alias("fp"))


# --- normalization / PII masking / stratified sampling --------------------
# Corpus-cleaning ops (round 4). The fixture text is already clean, so
# the normalize/mask queries synthesize adversarial input IN the query
# (same derivation in Spark and the oracle): messy whitespace + case for
# normalize, planted URL/email/phone spans for masking — every row then
# exercises the real transformation instead of a no-op.

from storm_bench_spark.functions.text import (  # noqa: E402
    PII_PATTERNS,
    WS_RUN_PATTERN,
    mask_pii,
    normalize_text,
)

_MESSY_SQL = "concat('  ', upper(substr(text, 1, 20)), ' ', chr(9), ' ', text, '  ')"


@register(
    "text_normalize",
    oracle=f"""
SELECT doc_id, norm_text,
       CAST(length(messy) - length(norm_text) AS BIGINT) AS n_chars_removed
FROM (
  SELECT doc_id, messy,
         lower(trim(regexp_replace(messy, '{WS_RUN_PATTERN}', ' ', 'g'))) AS norm_text
  FROM (SELECT doc_id, {_MESSY_SQL} AS messy FROM documents)
)
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/case normalization over a synthesized messy variant of
    every document (leading/trailing pads, an upper-cased prefix echo, a
    literal tab): runs → single space, trim, lowercase. One linear scan,
    no shuffle — the cheapest pass of a cleaning pipeline and the one
    that makes exact dedup catch whitespace/case variants."""
    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("  "),
        F.upper(F.substring("text", 1, 20)),
        F.lit(" \t "),
        F.col("text"),
        F.lit("  "),
    )
    out = docs.select("doc_id", messy.alias("messy"))
    norm = normalize_text("messy")
    return out.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length("messy") - F.length(norm)).cast("bigint").alias("n_chars_removed"),
    )


_PII_SUFFIX_SQL = (
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@example.com via "
    "https://ex.example/p/', CAST(doc_id AS VARCHAR), ' or +1 555 010 ', "
    "CAST(doc_id % 10000 AS VARCHAR))"
)


def _pii_mask_oracle() -> str:
    masked = "pii_text"
    for pat, repl in PII_PATTERNS:
        masked = f"regexp_replace({masked}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id, masked,
       CAST(len(string_split(masked, '<URL>')) - 1 AS BIGINT) AS n_url,
       CAST(len(string_split(masked, '<EMAIL>')) - 1 AS BIGINT) AS n_email,
       CAST(len(string_split(masked, '<PHONE>')) - 1 AS BIGINT) AS n_phone
FROM (
  SELECT doc_id, {masked} AS masked
  FROM (SELECT doc_id, {_PII_SUFFIX_SQL} AS pii_text FROM documents)
)
"""


@register("pii_mask", oracle=_pii_mask_oracle())
def pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with planted URL/email/phone spans
    (appended deterministically per doc_id so every row exercises all
    three patterns): spans → <URL>/<EMAIL>/<PHONE> placeholders via
    three ordered vectorized regexp_replace passes — patterns from the
    Java-regex ∩ RE2 common subset, so the oracle runs the literal same
    strings. Linear scan, no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.example/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" or +1 555 010 "),
        (F.col("doc_id") % 10000).cast("string"),
    )
    masked = mask_pii(pii_text)
    counts = [
        (F.size(F.split(F.col("masked"), repl, -1)) - 1)
        .cast("bigint")
        .alias(f"n_{repl[1:-1].lower()}")
        for _, repl in PII_PATTERNS
    ]
    return docs.select("doc_id", masked.alias("masked")).select(
        "doc_id", "masked", *counts
    )


# Per-stratum deterministic sampling rates (percent): rare/valuable
# strata keep more. Training-data mixing in one scan — membership is a
# pure function of the row key, so the sample is reproducible across
# runs, engines, and cluster sizes (no RNG, no seed plumbing).
SAMPLE_RATES: tuple[tuple[str, int], ...] = (
    ("view", 5),
    ("click", 10),
    ("signup", 25),
    ("error", 50),
    ("purchase", 100),
)


def _stratified_sample_oracle() -> str:
    case = " ".join(f"WHEN '{t}' THEN {r}" for t, r in SAMPLE_RATES)
    h = hash64_sql("concat('smp:', CAST(event_id AS VARCHAR))")
    return f"""
SELECT event_id, event_type, user_id
FROM events
WHERE ({h}) % 100 < CASE event_type {case} ELSE 0 END
"""


@register("stratified_sample", oracle=_stratified_sample_oracle())
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    ``hash64('smp:' || event_id) % 100 < rate(event_type)`` — the
    data-mixing primitive of a training pipeline. Hash-gated membership
    beats ``rand()``-based sampling at scale: reproducible under
    retries/speculative execution, stable across engines (the oracle
    replays it exactly), and it pushes down as a plain filter — one
    scan, no shuffle, no state."""
    events = load_table(spark, sf_dir, "events")
    rate = F.lit(0)
    for t, r in reversed(SAMPLE_RATES):
        rate = F.when(F.col("event_type") == t, r).otherwise(rate)
    bucket = hash64(F.concat(F.lit("smp:"), F.col("event_id").cast("string"))) % 100
    return events.where(bucket < rate).select("event_id", "event_type", "user_id")


# --- exact-n weighted sampling without replacement (A-ES) -----------------

_WSMP_N = 100          # sample size
_WSMP_MAX_W = 8        # weight cap (bounds the per-row draw count)


def _weighted_sample_oracle() -> str:
    h = hash64_sql(
        "concat('wsmp:', CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))"
    )
    return f"""
WITH w AS (
  SELECT doc_id, least({_WSMP_MAX_W}, 1 + n_chars // 256) AS wt FROM documents
),
keyed AS (
  SELECT doc_id, wt,
         list_max(list_transform(range(1, wt + 1), j -> {h})) AS k
  FROM w
)
SELECT doc_id, CAST(wt AS BIGINT) AS weight, k AS sort_key
FROM keyed ORDER BY k DESC, doc_id LIMIT {_WSMP_N}
"""


@register("weighted_sample", oracle=_weighted_sample_oracle())
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n weighted sampling WITHOUT replacement — the
    Efraimidis–Spirtakis A-ES scheme (each item ranked by a key
    distributed as ``u^(1/w)``; the global top-n is a weighted sample
    without replacement), the primitive behind "pick exactly N docs
    with probability proportional to quality" in a training-data
    pipeline. Weight here is a capped length proxy,
    ``min(8, 1 + n_chars div 256)``.

    Integer-exact spelling: instead of ``u^(1/w)`` (whose ``ln``/``pow``
    would differ by an ulp between libms, flipping selection at the
    boundary), each doc takes the MAX of ``w`` independent hash64 draws
    — ``max of w uniforms ~ u^(1/w)`` exactly, for integer ``w`` — so
    keys, ordering, and the top-n cut are pure integer md5 math that
    the DuckDB oracle replays bit-for-bit. No RNG: reproducible under
    retries, speculative execution, and engine swaps.

    Shape at scale: the draw array is computed inside the scan
    projection (``transform`` over ``sequence``, ≤ 8 integer hashes per
    row, all JVM-side); global top-n compiles to TakeOrderedAndProject
    — per-partition top-n then a driver merge of n·P candidates, no
    exchange, no global sort. 100 TB cost = one scan.
    """
    return (
        wsmp_keyed(load_table(spark, sf_dir, "documents"))
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(_WSMP_N)
        .select(
            "doc_id",
            F.col("wt").cast("bigint").alias("weight"),
            F.col("k").alias("sort_key"),
        )
    )


def wsmp_keyed(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, extra...], wt, k) — the A-ES key columns shared by the
    batch query, its streaming twin, and the per-source variant
    (identical expressions ⇒ identical keys ⇒ one key spec certified by
    every oracle that consumes it)."""
    wt = F.least(F.lit(_WSMP_MAX_W), F.lit(1) + F.expr("n_chars DIV 256"))
    draws = F.transform(
        F.sequence(F.lit(1), F.col("wt")),
        lambda j: hash64(
            F.concat(
                F.lit("wsmp:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                j.cast("string"),
            )
        ),
    )
    return docs.select("doc_id", *extra_cols, wt.alias("wt")).select(
        "doc_id", *extra_cols, "wt", F.array_max(draws).alias("k")
    )


_WSMP_PER_SOURCE_N = 20


def _weighted_sample_per_source_oracle() -> str:
    h = hash64_sql(
        "concat('wsmp:', CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))"
    )
    return f"""
WITH w AS (
  SELECT doc_id, source, least({_WSMP_MAX_W}, 1 + n_chars // 256) AS wt
  FROM documents
),
keyed AS (
  SELECT doc_id, source, wt,
         list_max(list_transform(range(1, wt + 1), j -> {h})) AS k
  FROM w
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY k DESC, doc_id ASC
  ) AS rk FROM keyed
)
SELECT source, doc_id, CAST(wt AS BIGINT) AS weight, k AS sort_key,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_WSMP_PER_SOURCE_N}
"""


@register(
    "weighted_sample_per_source", oracle=_weighted_sample_per_source_oracle()
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``weighted_sample`` stratified: exactly n docs PER SOURCE,
    probability proportional to the same capped-length weight — the
    primitive behind per-domain mixture sampling ("pick the best N of
    each domain, quality-weighted"), where the global sampler would
    let one large domain swallow the budget. Same integer-exact A-ES
    keys (max of w hash64 draws), same one-scan key computation.

    Shape at scale: the grouped top-n is a rank window over the source
    partition, which Spark compiles with ``WindowGroupLimit`` — each
    map task keeps only its local top-n PER SOURCE before the
    exchange, so the shuffle carries ≤ n·P rows per source, not the
    corpus (the grouped analog of the global sampler's
    TakeOrderedAndProject). ``domain_mix_sample`` draws a hash-gated
    FRACTION per domain; this draws an exact COUNT — the two sampling
    contracts a mixture builder needs.
    """
    from pyspark.sql.window import Window

    keyed = wsmp_keyed(
        load_table(spark, sf_dir, "documents"), extra_cols=("source",)
    )
    w = Window.partitionBy("source").orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _WSMP_PER_SOURCE_N)
        .select(
            "source",
            "doc_id",
            F.col("wt").cast("bigint").alias("weight"),
            F.col("k").alias("sort_key"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# --- repetition score (Gopher-style duplicate-bigram fraction) ------------

@register(
    "repetition_score",
    oracle=f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
bi AS (
  SELECT doc_id, concat_ws(' ', w[i], w[i + 1]) AS bg
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w), 1))) AS i FROM words)
),
cnt AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg),
agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY doc_id)
SELECT w.doc_id,
       round(coalesce(CAST(mx AS DOUBLE) / tot, 0e0), 6) AS top_bigram_frac,
       CAST(coalesce(tot, 0) AS BIGINT) AS n_bigrams
FROM words w LEFT JOIN agg ON w.doc_id = agg.doc_id
""",
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the Gopher/C4 filter family): the
    fraction of a document's word bigrams taken by its single most
    frequent bigram — high values flag boilerplate/spam for removal.

    Shape at scale: explode to (doc_id, bigram) rows, one hash
    aggregation to per-(doc, bigram) counts, one to per-doc max/total —
    both partial-aggregated map-side and keyed by doc_id, so the
    shuffle carries counts, not text. Docs under two words score 0.0
    over 0 bigrams (LEFT JOIN + coalesce, same in the oracle)."""
    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    words = docs.select("doc_id", word_split("text").alias("w"))
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "  transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i - 1], w[i])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    bi = words.select("doc_id", F.explode(bigrams).alias("bg"))
    agg = (
        bi.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    )
    return (
        words.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("mx").cast("double") / F.col("tot"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            F.coalesce("tot", F.lit(0)).cast("bigint").alias("n_bigrams"),
        )
    )


# --- incremental dedup (new batch vs existing corpus) ---------------------

@register(
    "incremental_dedup",
    oracle=f"""
SELECT text_hash,
       min(CASE WHEN NOT in_corpus THEN doc_id END) AS keeper,
       CAST(count(CASE WHEN NOT in_corpus THEN 1 END) AS BIGINT) AS batch_cnt
FROM (
  SELECT doc_id, md5(text) AS text_hash,
         ({hash64_sql("concat('inc:', CAST(doc_id AS VARCHAR))")}) % 10 < 7
           AS in_corpus
  FROM documents
)
GROUP BY text_hash
HAVING sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) = 0
""",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit a NEW batch of documents against an
    EXISTING corpus — the steady-state spelling of ``dedup_exact`` once
    a pipeline runs continuously. A deterministic hash64 gate stands in
    for the corpus/batch boundary (70% "already ingested", 30% "new");
    a batch document survives iff its content hash appears nowhere in
    the corpus AND it is the lowest-id copy within the batch.

    Shape at scale: membership-check and in-batch dedup FUSE into one
    keyed aggregation on md5(text) — per-hash corpus count, batch min
    and batch count in a single pass — so there is exactly one scan
    and one shuffle, and the shuffle carries one partially-aggregated
    row per distinct hash, not per input row. In production the corpus
    side is the persisted fingerprint table from the previous run (16
    bytes/distinct doc); the fused-agg spelling shown here is what you
    run on (fingerprints UNION new batch), which is the same plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    in_corpus = (
        hash64(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))) % 10 < 7
    )
    tagged = docs.select(
        "doc_id", F.md5("text").alias("text_hash"), in_corpus.alias("in_corpus")
    )
    per_hash = tagged.groupBy("text_hash").agg(
        F.sum(F.col("in_corpus").cast("int")).alias("corpus_cnt"),
        F.min(F.when(~F.col("in_corpus"), F.col("doc_id"))).alias("keeper"),
        F.count(F.when(~F.col("in_corpus"), F.lit(1))).alias("batch_cnt"),
    )
    return per_hash.where(F.col("corpus_cnt") == 0).select(
        "text_hash", "keeper", "batch_cnt"
    )
