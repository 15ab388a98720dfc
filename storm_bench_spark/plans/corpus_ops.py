"""Corpus/IR operators (round 4): language-model scoring, chunking,
span-level dedup, domain mixing, quantization, and ranked retrieval.

These close the remaining gaps between "cleaned corpus" (plans/
pipeline.py, plans/curation.py, plans/training_prep.py) and what a
pretraining data platform actually serves:

- ``bigram_lm_score``  — self-trained corpus bigram LM, per-doc mean
  bigram probability (the KenLM-style fluency filter, log-free).
- ``chunk_documents``  — overlapping fixed-token-window chunking (the
  retrieval/embedding ingestion shape).
- ``chunk_dedup``      — C4-style cross-corpus span dedup: global
  first-occurrence-wins removal of duplicated word blocks, documents
  reassembled from their surviving blocks.
- ``domain_mix_sample``— temperature-based (T=2, p∝√tokens) domain
  mixture resampling with deterministic hash gating.
- ``embedding_quantize`` / ``ann_topk_quantized`` — symmetric int8
  vector quantization and brute-force search over the quantized
  vectors (scales cancel in cosine, so the quantized ranking is exact
  integer arithmetic).
- ``inverted_index``   — posting-list construction (df/cf + capped
  postings) for sparse retrieval.
- ``bm25_rank``        — BM25 top-20 for a fixed query, in a log-free
  all-rational spelling.

FP discipline (same rules as operators/similarity.py): every
cross-engine number is either exact integer arithmetic (fixed-point
ppm, counts, hash gates) or a double expression evaluated over exact
integers with an IDENTICAL operation tree in Spark and DuckDB — no
aggregation-order-dependent float sums, no transcendental functions
(``ln`` differs by platform libm across engines; ``sqrt`` is IEEE
correctly-rounded and allowed). Where a textbook formula wants a log
(BM25's idf, LM log-probs), the implementation uses an
order-preserving rational form and documents the substitution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.functions.hashing import hash64, hash64_sql
from storm_bench_spark.functions.text import word_split
from storm_bench_spark.operators import similarity as SIM
from storm_bench_spark.plans.pipeline import _WORDS_SQL, _spread
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources.tables import load_table

EMB_DIM = 64
ANN_QUERIES = 10
ANN_K = 5


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    return docs.select("doc_id", word_split("text").alias("w"))


def _bigram_pairs(drop_self: bool = False):
    """Adjacent-word struct pairs over the bound token array ``w``
    (empty for <2-word docs); ``drop_self=True`` drops w1 == w2 pairs
    (the co-occurrence-graph convention — no self-loops)."""
    body = "transform(sequence(1, size(w) - 1), i -> struct(w[i - 1] AS w1, w[i] AS w2))"
    if drop_self:
        body = f"filter({body}, p -> p.w1 <> p.w2)"
    return F.expr(
        f"CASE WHEN size(w) >= 2 THEN {body} "
        "ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"
    )


def _chunk_ids(stride: int):
    """0-based chunk indices for a stride walk over ``w``: ceil(n/stride)
    ids (empty for empty docs — Spark's ``sequence`` would otherwise
    produce a DESCENDING [0, -1] range)."""
    return F.expr(
        f"CASE WHEN size(w) > 0 THEN "
        f"sequence(0, (size(w) + {stride - 1}) div {stride} - 1) "
        f"ELSE CAST(array() AS array<int>) END"
    )


def _topk_ranked(df: DataFrame, n: int, score_col: str, id_col: str) -> DataFrame:
    """Global top-n by (score desc, id asc) with a 1-based rank column.

    The heavy step is ``orderBy().limit()`` — TakeOrdered (per-partition
    heaps + a driver merge of n-row partials), never a global sort; the
    row_number window then runs over the n surviving rows only
    (bounded-small by construction)."""
    from pyspark.sql.window import Window

    order = [F.desc(score_col), F.asc(id_col)]
    top = df.orderBy(*order).limit(n)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# --- bigram language-model scoring ---------------------------------------

@register(
    "bigram_lm_score",
    oracle=f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
bi AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w), 1))) AS i FROM words)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
p AS (
  SELECT doc_id, (c2.c2 * 1000000) // c1.c1 AS ppm
  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
),
agg AS (SELECT doc_id, sum(ppm) AS sp, count(*) AS nb FROM p GROUP BY doc_id)
SELECT w.doc_id,
       CAST(coalesce(sp // nb, 0) AS BIGINT) AS mean_prob_ppm,
       CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams
FROM words w LEFT JOIN agg ON w.doc_id = agg.doc_id
""",
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring against a bigram LM trained on the corpus itself
    (the KenLM-filter shape, self-supervised): per document, the mean
    MLE probability of its word bigrams, ``p(w2|w1) = c(w1 w2)/c(w1 ·)``.

    Log-free fixed point: per-bigram probability is the exact integer
    ``c2·10^6 // c1`` and the per-doc mean an exact integer division —
    no float accumulates across rows, so the result is independent of
    aggregation order and engine libm (a ``Σ ln p`` spelling would not
    be; same discipline as the kmeans integer partials).

    Shape at scale: the exploded bigram table is persisted (it feeds
    both the count build and the probe), counts are two cascaded
    map-side-combined aggregations — c(w1 ·) is derived from the
    bigram-count table (vocabulary-sized), never from a second pass
    over the corpus — and the probe is an equi-join on (w1, w2)
    against count tables that are vocabulary-sized, not corpus-sized.
    """
    from pyspark import StorageLevel

    words = _words(spark, sf_dir)
    bi = words.select("doc_id", F.explode(_bigram_pairs()).alias("b")).select(
        "doc_id", "b.w1", "b.w2"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # c2 is consumed twice (the c1 rollup and the probe join); persist
    # the vocabulary-sized count so the bigram-row aggregation over the
    # cached bi table runs once, not once per consumer
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    p = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .select("doc_id", F.expr("(c2 * 1000000) div c1").alias("ppm"))
    )
    agg = p.groupBy("doc_id").agg(
        F.sum("ppm").alias("sp"), F.count("*").alias("nb")
    )
    return (
        words.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.expr("sp div nb"), F.lit(0)).cast("bigint").alias("mean_prob_ppm"),
            F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_bigrams"),
        )
    )


# --- overlapping fixed-window chunking -----------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "chunk_documents",
    oracle=f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(range(0, (len(w) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE})) AS cid
  FROM words
)
SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
       array_to_string(list_slice(w, cid * {CHUNK_STRIDE} + 1,
                                  cid * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk_text,
       CAST(least({CHUNK_TOKENS}, len(w) - cid * {CHUNK_STRIDE}) AS BIGINT) AS n_chunk_tokens
FROM c
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking (32 tokens, stride 24) — the
    ingestion shape for embedding/retrieval pipelines, where every
    chunk must carry (doc_id, chunk_id) lineage.

    One narrow pass: tokenize once per row, explode the chunk-start
    sequence, slice — no shuffle at all; chunk rows inherit the scan's
    partitioning, and at 100 TB the output is written straight back
    out partition-local. The last chunk is short (no padding — the
    padding policy belongs to ``pack_sequences``).
    """
    words = _words(spark, sf_dir)
    c = words.select("doc_id", "w", F.explode(_chunk_ids(CHUNK_STRIDE)).alias("cid"))
    return c.select(
        "doc_id",
        F.col("cid").cast("bigint").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("w"), F.col("cid") * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
        ).alias("chunk_text"),
        F.least(
            F.lit(CHUNK_TOKENS), F.size("w") - F.col("cid") * CHUNK_STRIDE
        ).cast("bigint").alias("n_chunk_tokens"),
    )


# --- C4-style cross-corpus span dedup ------------------------------------

DEDUP_BLOCK_TOKENS = 16
# first-occurrence-wins order: block position packs (doc_id, chunk_id)
# into one orderable integer; chunk ids are < 10^6 by construction
# (documents are token-bounded long before a million blocks).
_POS = 1_000_000


@register(
    "chunk_dedup",
    oracle=f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
b AS (
  SELECT doc_id, cid,
         array_to_string(list_slice(w, cid * {DEDUP_BLOCK_TOKENS} + 1,
                                    cid * {DEDUP_BLOCK_TOKENS} + {DEDUP_BLOCK_TOKENS}), ' ') AS btxt
  FROM (SELECT doc_id, w,
               unnest(range(0, (len(w) + {DEDUP_BLOCK_TOKENS - 1}) // {DEDUP_BLOCK_TOKENS})) AS cid
        FROM words)
),
k AS (SELECT doc_id, cid, btxt, md5(btxt) AS key,
             doc_id * {_POS} + cid AS pos FROM b),
wins AS (SELECT key, min(pos) AS wpos FROM k GROUP BY key)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(*) FILTER (WHERE pos <> wpos) AS BIGINT) AS n_blocks_removed,
       coalesce(string_agg(btxt, ' ' ORDER BY cid) FILTER (WHERE pos = wpos), '') AS clean_text
FROM k JOIN wins USING (key)
GROUP BY doc_id
""",
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus span dedup (the C4/RefinedWeb block rule): split
    every document into non-overlapping 16-word blocks, remove every
    repeat of a block that occurs anywhere in the corpus (first
    occurrence by (doc_id, position) survives — including within-doc
    boilerplate repeats), and reassemble each document from its
    surviving blocks.

    Plan (respelled round 11, the ``line_dedup`` treatment — CORPUS
    TEXT NEVER CROSSES AN EXCHANGE): the r≤10 plan carried each
    block's TEXT through both the ownership join and the reassembly
    aggregation — shuffling the corpus twice to rebuild strings that
    never left their source row. Now only digests and ints move:
    (a) a narrow explode of (doc_id, cid, md5, packed pos) feeds the
    ownership test — ``min(pos) OVER (PARTITION BY digest)`` (first
    occurrence by (doc_id, position) wins): ONE digest-keyed shuffle
    instead of the aggregate-then-self-join spelling's two (measured
    at sf0.1: 0.52 s vs 0.70 s, bit-identical rows; at scale the
    shuffle volume halves — skew behavior is identical, both spellings
    hash-partition the same rows by digest); (b) the LOSERS (pos ≠
    window min) collapse to per-doc REMOVED-cid int lists
    (duplicate-coverage-sized, not corpus-sized); (c) reassembly
    happens on the original (doc_id, w) row —
    filter the chunk-id sequence against the removed list, slice,
    join — a pure projection where the document lives. No global
    ordering anywhere; the reassembly sort is the per-row array
    filter's natural cid order. Results are bit-identical to the old
    spelling (verified row-for-row against the unchanged oracle at
    sf0.1, 5000 docs, at the swap). This is the span-granular
    complement of ``dedup_exact`` (whole-doc) and ``minhash_lsh``
    (near-dup).
    """
    words = _words(spark, sf_dir)
    docs = words.where(F.size("w") > 0)
    hashes = docs.select(
        "doc_id", "w", F.explode(_chunk_ids(DEDUP_BLOCK_TOKENS)).alias("cid")
    ).select(
        "doc_id",
        "cid",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("w"),
                    F.col("cid") * DEDUP_BLOCK_TOKENS + 1,
                    DEDUP_BLOCK_TOKENS,
                ),
                " ",
            )
        ).alias("key"),
        (F.col("doc_id") * _POS + F.col("cid")).alias("pos"),
    )
    from pyspark.sql.window import Window

    wkey = Window.partitionBy("key")
    removed = (
        hashes.withColumn("wpos", F.min("pos").over(wkey))
        .where(F.col("pos") != F.col("wpos"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("cid")).alias("rm"))
    )
    nblk = F.ceil(F.size("w") / DEDUP_BLOCK_TOKENS)
    return docs.join(removed, "doc_id", "left").select(
        "doc_id",
        nblk.cast("bigint").alias("n_blocks"),
        F.coalesce(F.size("rm"), F.lit(0)).cast("bigint").alias("n_blocks_removed"),
        # surviving blocks rebuilt in cid order on the source row; a
        # fully-duplicated doc filters to an empty sequence and
        # array_join yields '' — matching the oracle's
        # coalesce(string_agg(...) FILTER, '')
        F.array_join(
            F.transform(
                F.filter(
                    F.sequence(F.lit(0), nblk.cast("int") - 1),
                    lambda c: ~F.coalesce(
                        F.array_contains("rm", c.cast("long")), F.lit(False)
                    ),
                ),
                lambda c: F.array_join(
                    F.slice("w", c * DEDUP_BLOCK_TOKENS + 1, DEDUP_BLOCK_TOKENS), " "
                ),
            ),
            " ",
        ).alias("clean_text"),
    )


# --- temperature-based domain mixture sampling ---------------------------

def _mix_oracle() -> str:
    gate = hash64_sql("concat('mix:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH dt AS (SELECT doc_id, source, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
            FROM documents),
s AS (SELECT source, sum(n_tokens) AS tok_s FROM dt GROUP BY source),
s2 AS (SELECT source, tok_s,
              CAST(floor(sqrt(CAST(tok_s AS DOUBLE))) AS BIGINT) AS isq FROM s),
t AS (SELECT CAST(sum(tok_s) AS BIGINT) AS total,
             CAST(sum(isq) AS BIGINT) AS s_sum FROM s2),
r AS (
  SELECT source,
         CASE WHEN tok_s = 0 THEN 1000000 ELSE
           least(1000000, CAST(floor(
             ((CAST(total // 2 AS DOUBLE) * CAST(isq AS DOUBLE))
              / CAST(s_sum AS DOUBLE) / CAST(tok_s AS DOUBLE)) * 1000000.0
           ) AS BIGINT))
         END AS rate_ppm
  FROM s2, t
)
SELECT dt.doc_id, dt.source, dt.n_tokens, r.rate_ppm
FROM dt JOIN r USING (source)
WHERE ({gate}) % 1000000 < r.rate_ppm
"""


@register("domain_mix_sample", oracle=_mix_oracle())
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture resampling at temperature T=2: per-source keep
    rates ∝ √(source tokens)/(source tokens), normalized to a half-
    corpus token budget and capped at 1 — the standard move that
    up-weights small domains without letting one giant domain dominate
    the mix. Membership is hash-gated per doc_id (reproducible under
    retries and across engines; no RNG), like ``stratified_sample``.

    Determinism: source token totals and their integer square roots
    are exact integers; the only float expression is the fixed tree
    ``(target·isq)/S/tok·10^6`` over those exact values, evaluated
    identically by both engines, then floored to a ppm gate.

    Shape at scale: one map-side-combined aggregation to source totals
    (one row per domain), rates computed against a broadcast 1-row
    total, rates broadcast back onto the corpus as a hash-join on
    ``source`` — the full corpus is touched exactly twice, shuffled
    never (token counting rides the scan; the agg shuffle carries one
    row per domain).
    """
    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    dt = docs.select(
        "doc_id", "source", F.size(word_split("text")).cast("bigint").alias("n_tokens")
    )
    s = dt.groupBy("source").agg(F.sum("n_tokens").alias("tok_s"))
    s2 = s.withColumn(
        "isq", F.floor(F.sqrt(F.col("tok_s").cast("double"))).cast("bigint")
    )
    t = s2.agg(
        F.sum("tok_s").cast("bigint").alias("total"),
        F.sum("isq").cast("bigint").alias("s_sum"),
    )
    # tok_s = 0 (a source whose documents all tokenize empty) carries
    # zero token mass, so "keep everything" costs nothing against the
    # budget — and the explicit CASE keeps the division guarded under
    # ANSI mode and bit-agreed with the oracle (which has the same CASE)
    r = s2.crossJoin(F.broadcast(t)).select(
        "source",
        F.when(F.col("tok_s") == 0, F.lit(1000000).cast("bigint")).otherwise(
            F.least(
                F.lit(1000000),
                F.floor(
                    (
                        F.expr("CAST(total div 2 AS DOUBLE)")
                        * F.col("isq").cast("double")
                    )
                    / F.col("s_sum").cast("double")
                    / F.col("tok_s").cast("double")
                    * 1000000.0
                ).cast("bigint"),
            )
        ).alias("rate_ppm"),
    )
    gate = hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 1000000
    return (
        dt.join(F.broadcast(r), "source")
        .where(gate < F.col("rate_ppm"))
        .select("doc_id", "source", "n_tokens", "rate_ppm")
    )


# --- int8 embedding quantization -----------------------------------------

def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, v double[], maxabs, qarr bigint[]) — chained projections
    so maxabs is evaluated once per row (house codegen discipline)."""
    return (
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn("maxabs", F.array_max(F.transform("v", F.abs)))
        .withColumn(
            "qarr",
            F.when(
                F.col("maxabs") == 0.0,
                F.expr("transform(v, x -> CAST(0 AS BIGINT))"),
            ).otherwise(
                F.expr(
                    "transform(v, x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), "
                    "CAST(floor((x * 127.0) / maxabs + 0.5) AS BIGINT))))"
                )
            ),
        )
    )


_QUANT_SQL = (
    "CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN "
    "  list_transform(v, x -> CAST(0 AS BIGINT)) "
    "ELSE list_transform(v, x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), "
    "  CAST(floor((x * 127.0) / list_max(list_transform(v, y -> abs(y))) + 0.5) AS BIGINT)))) END"
)
_QV_CTE = (
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
    f"{_QUANT_SQL} AS qarr FROM embeddings"
)


@register(
    "embedding_quantize",
    oracle=f"""
WITH q AS ({_QV_CTE}),
m AS (SELECT vec_id, v, qarr,
             list_max(list_transform(v, x -> abs(x))) AS maxabs FROM q)
SELECT vec_id,
       round(maxabs / 127.0, 9) AS scale,
       array_to_string(qarr, ',') AS qvec_csv,
       round(CASE WHEN maxabs = 0 THEN 0e0 ELSE
         list_max(list_transform(range(1, {EMB_DIM + 1}),
           i -> abs((CAST(qarr[i] AS DOUBLE) * maxabs) / 127.0 - v[i])))
       END, 6) AS max_abs_err
FROM m
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/serving
    format for billion-vector indexes): ``q_i = round(v_i·127/max|v|)``
    clamped to [-127, 127], plus the reconstruction scale and the
    worst-case dequantization error.

    Pure narrow map — no shuffle; 4 bytes/dim become 1. Determinism:
    the float tree ``(x·127)/maxabs + 0.5 → floor`` is evaluated
    identically in both engines over exactly-widened float32 inputs,
    and max() over dims is order-free (unlike a sum, which is why the
    error metric is max-abs and not MSE). The quantized vector crosses
    the driver hash as a CSV string — engines disagree on list CELL
    dtypes (numpy int64 vs Python int), not values; stringifying
    makes the comparison about the values.
    """
    q = _quantized(load_table(spark, sf_dir, "embeddings"))
    err = F.expr(
        "CASE WHEN maxabs = 0 THEN 0D ELSE "
        "array_max(zip_with(qarr, v, (q, x) -> abs((CAST(q AS DOUBLE) * maxabs) / 127.0 - x))) END"
    )
    return q.select(
        "vec_id",
        F.round(F.col("maxabs") / 127.0, 9).alias("scale"),
        F.array_join(F.transform("qarr", lambda x: x.cast("string")), ",").alias("qvec_csv"),
        F.round(err, 6).alias("max_abs_err"),
    )


@register(
    "ann_topk_quantized",
    oracle=f"""
WITH qv AS (SELECT vec_id AS id, list_transform(qarr, x -> CAST(x AS DOUBLE)) AS v
            FROM ({_QV_CTE})),
q AS (SELECT * FROM qv WHERE id < {ANN_QUERIES})
SELECT qid, neighbor, cos, rank FROM (
  SELECT qid, neighbor, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor) AS rank
  FROM (
    SELECT q.id AS qid, qv.id AS neighbor,
           round({SIM.cosine_sql('q.v', 'qv.v')}, 6) AS cos
    FROM q JOIN qv ON q.id <> qv.id
  )
) WHERE rank <= {ANN_K}
""",
)
def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k over the int8-quantized vectors — the memory-
    bound configuration of ANN serving (1 byte/dim resident instead of
    4). The per-vector scales cancel out of cosine, so quantized
    search ranks by pure integer dot products: every sum the kernel
    accumulates is integer-valued (exact in float64 far beyond
    127²·dim), making this the rare ANN variant whose scores are
    bitwise engine-independent with no FP-ordering caveats at all.

    Reuses the closure-broadcast Arrow kernel of ``ann_topk``
    (operators/similarity.py:190) over the quantized column — no join,
    vectors never shuffle; only (qid, neighbor, cos) rows move.
    """
    q = _quantized(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("qarr").cast("array<double>").alias("qv")
    )
    queries = q.where(F.col("vec_id") < ANN_QUERIES)
    return SIM.ann_topk_bruteforce(q, queries, ANN_K, vec_col="qv", dim=EMB_DIM)


# --- two-stage ANN serving: quantized shortlist → exact re-rank ----------

SHORTLIST_K = 20


def _rerank_oracle() -> str:
    dot, sumsq = SIM._dot_sql_builders(EMB_DIM)
    exact_cos = (
        f"({dot('fq.fv', 'fn.fv')}) / "
        f"(sqrt({sumsq('fq.fv')}) * sqrt({sumsq('fn.fv')}))"
    )
    return f"""
WITH qv AS (SELECT vec_id AS id,
                   list_transform(qarr, x -> CAST(x AS DOUBLE)) AS qd,
                   v AS fv
            FROM ({_QV_CTE})),
q AS (SELECT * FROM qv WHERE id < {ANN_QUERIES}),
short AS (
  SELECT qid, neighbor, cos_q FROM (
    SELECT qid, neighbor, cos_q,
           row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, neighbor)
             AS r
    FROM (SELECT q.id AS qid, qv.id AS neighbor,
                 round({SIM.cosine_sql('q.qd', 'qv.qd')}, 6) AS cos_q
          FROM q JOIN qv ON q.id <> qv.id)
  ) WHERE r <= {SHORTLIST_K}
),
rer AS (
  SELECT s.qid, s.neighbor, s.cos_q, round({exact_cos}, 6) AS cos
  FROM short s
  JOIN qv fq ON fq.id = s.qid
  JOIN qv fn ON fn.id = s.neighbor
)
SELECT qid, neighbor, cos_q, cos, CAST(rank AS BIGINT) AS rank FROM (
  SELECT qid, neighbor, cos_q, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor)
           AS rank
  FROM rer
) WHERE rank <= {ANN_K}
"""


@register("ann_rerank", oracle=_rerank_oracle())
def ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving — the production compressed-index
    pattern: stage 1 scans the int8-quantized index for a top-
    SHORTLIST_K candidate list per query (cheap, 1 byte/dim, and
    bitwise engine-exact — integer dot products), stage 2 re-scores
    ONLY the shortlist against the full-precision vectors and emits
    the exact top-ANN_K. Both scores are returned so the refinement
    is visible (``cos_q`` quantized, ``cos`` exact).

    FP discipline: the exact cosine is the left-assoc dimension-order
    unrolled sum (`SIM._pair_cos` with fixed dim), replayed in the
    oracle with the matching unrolled term chain — the
    embedding_neardup spelling, no aggregation-order dependence.

    Shape at scale: the shortlist is queries × SHORTLIST_K rows —
    small by construction. The query batch (quantized AND full-
    precision, k·dim doubles) is collected ONCE and rides driver-side
    in the two Arrow kernels' closures: the quantized copy in the
    stage-1 scorer, the full-precision copy in the stage-2 per-pair
    scorer (`SIM._pair_scores_udf`) — so the QUERY side of the exact
    re-score needs no join at all. Only the NEIGHBOR vectors are
    fetched by a keyed join of the shortlist against a (vec_id, v)
    projection: full-precision vectors are read where they live and
    never cross an exchange; only shortlist-sized rows move. The
    final window partitions by qid over ≤ SHORTLIST_K rows per key.

    Round 10 (VERDICT r9 next #1a): the previous spelling ran FOUR
    sequential driver jobs (query collect, two explicit broadcast
    builds, final write) — at fixture scale the row was pure job-
    latency (0.94 s for 2,000 vectors vs duck 0.34 s). This spelling
    is TWO jobs (one collect, one write; the shortlist join broadcasts
    at runtime via AQE) and both quantization legs derive from one
    scanned projection — Catalyst prunes the quantize expressions out
    of the neighbor-vector re-scan entirely.

    Round 13 (VERDICT r12 next #6): the stage-2 exact cosine moved
    from a k×dim literal double matrix + unrolled dim-term
    ``_pair_cos`` projection into the per-pair Arrow kernel. The old
    spelling's cost was not execution (the rerank touches only
    shortlist-sized rows) but PLAN COMPILE: ~0.6 s/run of Catalyst
    analysis + codegen over the 640-literal expression tree at the
    sf1 tier, and an 8.9 s first encounter while C2 compiled the
    generated method. Kernel spelling: 1.19 s → ~0.75 s steady at the
    tier, bit-identical output (git-stash A/B, BASELINE.md round 13).

    FP discipline: the driver-side query norms and both kernels sum
    with the dimension-order helpers of ``operators/similarity.py``
    (``SIM._norms`` here), the order of the oracle's unrolled chain —
    bitwise-identical cosines.
    """
    import numpy as np
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    prep = _quantized(emb).select(
        "vec_id", F.col("qarr").cast("array<double>").alias("qv"), "v"
    )
    rows = sorted(
        prep.where(F.col("vec_id") < ANN_QUERIES).collect(), key=lambda r: r[0]
    )
    qids = [int(r["vec_id"]) for r in rows]
    qm = np.array([list(r["qv"]) for r in rows], dtype=np.float64)
    fm = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    qn, fnrm = SIM._norms(qm), SIM._norms(fm)
    qid_arr = F.array(*[F.lit(q) for q in qids])

    scored = (
        prep.select(
            F.col("vec_id").alias("neighbor"),
            F.posexplode(SIM._ref_scores_udf(qm, qn)("qv")).alias("qi", "c"),
        )
        .select(
            "qi",
            F.element_at(qid_arr, F.col("qi") + 1).alias("qid"),
            "neighbor",
            F.round("c", 6).alias("cos_q"),
        )
        .where(F.col("qid") != F.col("neighbor"))
    )
    w1 = Window.partitionBy("qid").orderBy(F.desc("cos_q"), F.asc("neighbor"))
    shortlist = (
        scored.withColumn("r", F.row_number().over(w1))
        .where(F.col("r") <= SHORTLIST_K)
        .drop("r")
    )
    vn = emb.select(
        F.col("vec_id").alias("neighbor"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    rer = shortlist.join(vn, "neighbor").select(
        "qid", "neighbor", "cos_q",
        F.round(
            SIM._pair_scores_udf(fm, fnrm)(F.col("qi"), F.col("nv")), 6
        ).alias("cos"),
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("neighbor"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= ANN_K)
        .select("qid", "neighbor", "cos_q", "cos", F.col("rank").cast("bigint").alias("rank"))
    )


# --- inverted index -------------------------------------------------------

MIN_DF = 5
POSTINGS_CAP = 20


@register(
    "inverted_index",
    oracle=f"""
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents)
  GROUP BY term, doc_id
)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, {POSTINGS_CAP}), ',') AS postings
FROM tf GROUP BY term HAVING count(*) >= {MIN_DF}
""",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction for sparse retrieval: per term, its
    document frequency, collection frequency, and the first 20
    postings in doc_id order (capped — the cap is explicit in the
    output contract, not silent truncation).

    Shape at scale: corpus → (term, doc) term frequencies in one
    map-side-combined aggregation (the shuffle carries counts, not
    text); the persisted tf table then feeds df/cf (plain aggregation)
    and the postings (a rank-≤cap window filter BEFORE collect_list,
    so no aggregation buffer ever holds more than 20 doc ids — a
    stop-word's uncapped posting list is corpus-sized and would OOM
    the executor if collected first and sliced after). ``df >= 5``
    prunes the hapax tail, which at corpus scale is most of the
    vocabulary.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    words = _words(spark, sf_dir)
    tf = (
        words.select("doc_id", F.explode("w").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    top = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return stats.join(top, "term").where(F.col("df") >= MIN_DF)


# --- BM25 ranked retrieval ------------------------------------------------

BM25_TERMS: tuple[str, ...] = ("join", "vector", "merge")
BM25_TOP = 20

# BM25 with k1 = 1.2, b = 0.75 in an all-rational, log-free spelling.
# Substituting the rationals and multiplying through by 2·avgdl·N turns
# the tf component into a ratio of integers:
#   tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)
# with T = total corpus tokens, N = docs (avgdl = T/N). The idf uses the
# odds ratio (N−df+½)/(df+½) = (2N−2df+1)/(2df+1) WITHOUT the log: the
# log is monotone, so dropping it preserves per-term ordering, and
# cross-engine it would cost a platform-libm ``ln``. Every factor below
# is an exact integer; the division tree is fixed and identical in both
# engines, and the 3 per-term scores add in literal column order.


def _bm25_term_expr(tf: str, df: str) -> str:
    """Shared Spark/DuckDB rendering of one term's score (exact-int
    inputs, fixed double tree)."""
    return (
        f"(CAST(2 * N - 2 * {df} + 1 AS DOUBLE) / CAST(2 * {df} + 1 AS DOUBLE))"
        f" * ((22.0 * CAST({tf} AS DOUBLE) * CAST(T AS DOUBLE))"
        f" / (10.0 * CAST({tf} AS DOUBLE) * CAST(T AS DOUBLE)"
        f" + 3.0 * CAST(T AS DOUBLE)"
        f" + 9.0 * CAST(dl AS DOUBLE) * CAST(N AS DOUBLE)))"
    )


def _bm25_score_expr() -> str:
    terms = " + ".join(
        _bm25_term_expr(f"tf{i}", f"df{i}") for i in range(len(BM25_TERMS))
    )
    return f"round({terms}, 6)"


def _bm25_oracle() -> str:
    t_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    tf_cols = ", ".join(
        f"coalesce(sum(CASE WHEN term = '{t}' THEN tf END), 0) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"coalesce(sum(CASE WHEN term = '{t}' THEN 1 END), 0) AS df{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    filled_tf = ", ".join(
        f"coalesce(tf{i}, 0) AS tf{i}" for i in range(len(BM25_TERMS))
    )
    df_names = ", ".join(f"df{i}" for i in range(len(BM25_TERMS)))
    return f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM words),
tot AS (SELECT CAST(count(*) AS BIGINT) AS N, CAST(sum(dl) AS BIGINT) AS T FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM words)
  WHERE term IN ({t_list}) GROUP BY doc_id, term
),
tfp AS (SELECT doc_id, {tf_cols} FROM tf GROUP BY doc_id),
dfs AS (SELECT {df_cols} FROM tf),
joined AS (
  SELECT dl.doc_id, dl.dl, {filled_tf}, N, T, {df_names}
  FROM dl LEFT JOIN tfp USING (doc_id), tot, dfs
),
scored AS (SELECT doc_id, {_bm25_score_expr()} AS score FROM joined)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {BM25_TOP}
"""


@register("bm25_rank", oracle=_bm25_oracle())
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval for the fixed query ('join', 'vector',
    'merge') (k1 = 1.2, b = 0.75), in the log-free rational spelling
    documented above — identical ranking, engine-exact scores.

    Shape at scale: the corpus is tokenized EXACTLY ONCE — per-doc
    length and the 3 per-term frequencies are narrow array expressions
    over the same token array (no explode, no keyed shuffle), and the
    resulting compact stats table (5 ints/doc) is persisted and feeds
    all three consumers (N/T totals, dfs, the scored pass). N/T and
    the 3 dfs are broadcast 1-row aggregates. The final top-20 is
    ``ORDER BY ... LIMIT`` — Spark's TakeOrdered, a per-partition heap
    + driver merge of 20-row partials, never a global sort. Docs
    containing no query term score an exact 0.0 (the tf = 0 numerator
    vanishes), so ranking is total over the corpus with the
    (score, doc_id) tie-break.
    """
    from pyspark import StorageLevel

    words = _words(spark, sf_dir)
    stats = words.select(
        "doc_id",
        F.size("w").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("w", lambda x: x == F.lit(t)))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = stats.agg(
        F.count("*").cast("bigint").alias("N"), F.sum("dl").cast("bigint").alias("T")
    )
    dfs = stats.agg(
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ]
    )
    scored = (
        stats.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dfs))
        .select("doc_id", F.expr(_bm25_score_expr()).alias("score"))
    )
    return _topk_ranked(scored, BM25_TOP, "score", "doc_id")


# --- TextRank keyword extraction -----------------------------------------

TR_SCALE = 1_000_000_000  # fixed-point rank scale (1.0 == 10^9)
TR_ITERS = 5
TR_TOP = 30
_TR_BASE = TR_SCALE * 15 // 100  # (1 - d) with d = 0.85


def _textrank_oracle() -> str:
    iters = []
    prev = "r0"
    for k in range(1, TR_ITERS + 1):
        iters.append(
            f"r{k} AS (SELECT dst AS word, CAST({_TR_BASE} + "
            f"(85 * sum((r.r * ew.wgt) // ew.wdeg)) // 100 AS BIGINT) AS r "
            f"FROM ew JOIN {prev} r ON ew.src = r.word GROUP BY dst)"
        )
        prev = f"r{k}"
    chain = ",\n".join(iters)
    return f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
bi AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT w, unnest(range(1, greatest(len(w), 1))) AS i FROM words)
  WHERE w[i] <> w[i + 1]
),
e AS (
  SELECT src, dst, count(*) AS wgt
  FROM (SELECT w1 AS src, w2 AS dst FROM bi
        UNION ALL SELECT w2 AS src, w1 AS dst FROM bi)
  GROUP BY src, dst
),
wdeg AS (SELECT src, sum(wgt) AS wdeg FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, e.wgt, wdeg.wdeg FROM e JOIN wdeg USING (src)),
r0 AS (SELECT src AS word, CAST({TR_SCALE} AS BIGINT) AS r FROM wdeg),
{chain}
SELECT word, score_scaled, rank FROM (
  SELECT word, r AS score_scaled,
         CAST(row_number() OVER (ORDER BY r DESC, word) AS BIGINT) AS rank
  FROM {prev}
) WHERE rank <= {TR_TOP}
"""


@register("textrank_keywords", oracle=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: weighted PageRank (d = 0.85, 5
    unrolled iterations) over the word co-occurrence graph — nodes are
    corpus words, undirected edges weighted by adjacent-pair counts —
    then the top 30 words by final rank. The corpus-sized work is ONE
    pass (the bigram count, map-side combined); every Lloyd-style
    iteration after that joins vocabulary-sized tables only, so the
    iteration cost is bounded by vocabulary, not corpus — the property
    that makes iterative graph algorithms viable at 100 TB of text.

    Fixed-point discipline (same rule as the k-means partials and the
    bigram LM): ranks are integers at scale 10^9, each contribution is
    the exact integer ``(r·w) // W`` and the damped update
    ``0.15 + 0.85·Σ`` is ``base + (85·Σ)//100`` — sums of integers are
    order-free, so 5 iterations stay bitwise engine-equal where a
    float PageRank would drift with aggregation order. (At extreme
    edge weights ``r·w`` needs 128-bit headroom; cap or renormalize
    weights before the loop if a single bigram exceeds ~10^9.)

    The edge+degree table is persisted once and reused by all 5
    iterations; in the symmetrized graph every node has both in- and
    out-edges, so the inner join is total (isolated single-word
    documents contribute no edges and take no rank, by construction).
    """
    from pyspark import StorageLevel

    words = _words(spark, sf_dir)
    bi = words.select(
        F.explode(_bigram_pairs(drop_self=True)).alias("b")
    ).select("b.w1", "b.w2")
    # Edge symmetrization in ONE explode pass (the r14 graph.py
    # _symmetrize fix): the two-branch unionByName evaluated the whole
    # corpus tokenize+bigram subtree twice — same UNION ALL multiset,
    # half the upstream work.
    e = (
        bi.select(
            F.explode(
                F.array(
                    F.struct(F.col("w1").alias("src"), F.col("w2").alias("dst")),
                    F.struct(F.col("w2").alias("src"), F.col("w1").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("wgt"))
        # persisted: consumed by wdeg AND the ew join below — uncached,
        # ONE materialization of ew ran the corpus pipeline twice (the
        # plan carried zero ReusedExchange), and the r0 rank init added
        # a third evaluation via wdeg
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wdeg = e.groupBy("src").agg(F.sum("wgt").alias("wdeg"))
    ew = e.join(wdeg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    ranks = wdeg.select("src", F.lit(TR_SCALE).cast("bigint").alias("r"))
    for _ in range(TR_ITERS):
        contrib = ew.join(ranks, "src").select(
            "dst", F.expr("(r * wgt) div wdeg").alias("c")
        )
        ranks = contrib.groupBy("dst").agg(
            F.expr(f"CAST({_TR_BASE} + (85 * sum(c)) div 100 AS BIGINT)").alias("r")
        ).select(F.col("dst").alias("src"), "r")
    ranked = _topk_ranked(ranks, TR_TOP, "r", "src")
    return ranked.select(
        F.col("src").alias("word"), F.col("r").alias("score_scaled"), "rank"
    )


# --- Count-Min-Sketch heavy hitters --------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_MIN_EST = 600


def _cms_bucket_sql(r: str, term: str) -> str:
    key = f"concat('cms', CAST({r} AS VARCHAR), ':', {term})"
    return f"({hash64_sql(key)}) % {CMS_WIDTH}"


def _cms_bucket_col() -> F.Column:
    """Spark twin of ``_cms_bucket_sql`` over columns ``r`` and ``term``."""
    return (
        hash64(
            F.concat(
                F.lit("cms"), F.col("r").cast("string"), F.lit(":"), F.col("term")
            )
        )
        % CMS_WIDTH
    )


def _cms_rows() -> F.Column:
    """One row per counter row ``r`` in 0..CMS_DEPTH-1."""
    return F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r")


def _cms_cells(tok: DataFrame) -> DataFrame:
    """The depth×width counter table: ``cnt`` per (r, b) over a
    ``term`` column."""
    return (
        tok.select("term", _cms_rows())
        .select("r", _cms_bucket_col().alias("b"))
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )


def _cms_estimate(cand: DataFrame, cells: DataFrame) -> DataFrame:
    """Probe each candidate term against the broadcast counter table:
    its estimate is the min over its depth cells, kept when it reaches
    ``CMS_MIN_EST``."""
    est = (
        cand.select("term", _cms_rows())
        .select("term", "r", _cms_bucket_col().alias("b"))
        .join(F.broadcast(cells), ["r", "b"])
        .groupBy("term")
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
    )
    return est.where(F.col("est_cnt") >= CMS_MIN_EST)


_CMS_ORACLE = f"""
WITH tok AS (SELECT unnest({_WORDS_SQL}) AS term FROM documents),
cells AS (
  SELECT r, {_cms_bucket_sql('r', 'term')} AS b, count(*) AS cnt
  FROM (SELECT term, unnest(range(0, {CMS_DEPTH})) AS r FROM tok)
  GROUP BY r, b
),
cand AS (SELECT DISTINCT term FROM tok),
est AS (
  SELECT term, min(cnt) AS est_cnt
  FROM (SELECT term, r, {_cms_bucket_sql('r', 'term')} AS b
        FROM (SELECT term, unnest(range(0, {CMS_DEPTH})) AS r FROM cand))
  JOIN cells USING (r, b)
  GROUP BY term
)
SELECT term, CAST(est_cnt AS BIGINT) AS est_cnt
FROM est WHERE est_cnt >= {CMS_MIN_EST}
"""


@register("heavy_hitters_cms", oracle=_CMS_ORACLE)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a Count-Min Sketch (depth 4 × width 1024,
    portable-hash rows): report every term whose CMS estimate — the
    min over 4 hashed counter rows — reaches the threshold. Completes
    the engine's sketch family (MinHash, SimHash, hyperplane LSH, HLL)
    with the frequency sketch, and unlike those, the whole sketch is a
    deterministic SQL object: both engines build the identical 4×1024
    counter table, so estimates (including collision-inflated ones —
    CMS only ever overestimates) match exactly.

    Why this shape at 100 TB: the sketch build is one map-side-combined
    aggregation whose output is BOUNDED (depth·width cells) no matter
    the stream volume or vocabulary — the memory guarantee that makes
    frequency tracking viable where an exact per-term count table would
    blow the state budget. The estimate probe joins vocabulary-sized
    candidates against the broadcast-small sketch. Width sets the error
    bound (ε ≈ e/width of total mass); size it to the stream, as the
    fixed 1024 here is sized to the fixture.
    """
    from pyspark import StorageLevel

    words = _words(spark, sf_dir)
    # both the sketch build and the candidate set read the exploded
    # token stream — persist it so the corpus tokenizes once
    tok = words.select(F.explode("w").alias("term")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _cms_estimate(tok.distinct(), _cms_cells(tok))


@register("streaming_heavy_hitters", oracle=_CMS_ORACLE)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``heavy_hitters_cms`` through the streaming engine: the CMS
    CELL TABLE is the streaming aggregation — ``count`` per (row,
    bucket) lives in the state store, which is exactly what a
    frequency sketch wants from micro-batches: counts sum
    incrementally, and the keyed state is BOUNDED at depth·width cells
    (4×1024 here) no matter how long the stream runs — the state-
    budget guarantee that makes heavy-hitter tracking viable where an
    exact per-term count table grows with the vocabulary. The
    candidate probe then runs in batch against the complete-mode
    snapshot (broadcast-small sketch), the same state→probe split as
    ``streaming_hll_visitors``. Identical final cells ⇒ the batch
    oracle verifies the streaming path bit-for-bit.
    """
    from pyspark import StorageLevel

    from storm_bench_spark.streaming.streams import run_to_memory, stream_table

    docs = stream_table(spark, sf_dir, "documents")
    tok_stream = docs.select(F.explode(word_split("text")).alias("term"))
    cells = run_to_memory(_cms_cells(tok_stream), output_mode="complete")
    cand = (
        _words(spark, sf_dir)
        .select(F.explode("w").alias("term"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _cms_estimate(cand, cells)


# --- per-source quantized centroids + source-pair similarity -------------
# Corpus drift analytics over the int8-quantized embeddings: integer
# sums are associative, so the centroid math is EXACT and order-free —
# the reason these aggregate the quantized vectors and not the raw
# floats (a per-(source,dim) float sum is partition-order-dependent;
# the int8 path trades ~0.4% quantization error for bit determinism,
# the same trade ann_topk_quantized documents).

_SRC_SUMS_SQL = f"""
  SELECT d.source, t.i AS dim,
         SUM(q.qarr[t.i]) AS s, COUNT(*) AS n
  FROM ({_QV_CTE}) q
  JOIN documents d ON d.doc_id = q.vec_id
  CROSS JOIN (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) t
  GROUP BY d.source, t.i
"""


@register(
    "source_centroids_q8",
    oracle=f"""
SELECT source, CAST(dim AS BIGINT) AS dim,
       CAST(s AS DOUBLE) / n AS centroid
FROM ({_SRC_SUMS_SQL})
""",
)
def source_centroids_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per document source (long form:
    one row per (source, dim)) over int8-quantized vectors — the
    corpus-drift dashboard query. Integer dimension sums are exact
    under ANY partition order (|s| ≤ 127·n stays far inside int64 up
    to ~10^16 docs/source), and the one divide to a double is
    IEEE-deterministic; no float accumulation anywhere. Plan:
    posexplode (narrow) + one keyed aggregation with full map-side
    combine — |sources|·dim result rows regardless of corpus size.
    """
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    exploded = emb.join(src, "vec_id").select(
        "source", F.posexplode("qarr").alias("pos", "q")
    )
    return (
        exploded.groupBy("source", (F.col("pos") + 1).alias("dim"))
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "source",
            F.col("dim").cast("bigint").alias("dim"),
            (F.col("s").cast("double") / F.col("n")).alias("centroid"),
        )
    )


@register(
    "source_similarity_q8",
    oracle=f"""
WITH sums AS ({_SRC_SUMS_SQL}),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         SUM(a.s * b.s) AS num, SUM(a.s * a.s) AS na, SUM(b.s * b.s) AS nb
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b,
       round(CAST(num AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos
FROM pairs
""",
)
def source_similarity_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between every pair of source centroids —
    which sub-corpora look alike. The count cancels in cosine
    (mean = s/n ⇒ cos(means) == cos(sums)), so the whole computation
    stays in EXACT integer arithmetic (Σ s_a·s_b over 64 dims; the
    int64 envelope |Σ| ≤ 64·(127n)² holds to ~3·10^6 docs/source —
    past that, widen to DECIMAL(38) partials) until one deterministic
    divide+sqrt at the end. Plan: the 64·|sources|-row sums table
    self-joins on dim — broadcast-tiny both sides, output
    |sources|²/2 rows.
    """
    # the exact-integer sums table (not the divided centroids)
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    from pyspark import StorageLevel

    s = (
        emb.join(src, "vec_id")
        .select("source", F.posexplode("qarr").alias("pos", "q"))
        .groupBy("source", "pos")
        .agg(F.sum("q").alias("s"))
        # persisted: both self-join sides consume it, and the broadcast
        # build side would otherwise re-run the emb⋈src + posexplode +
        # aggregation pipeline from scratch (64·|sources| rows — the
        # smallest cacheable unit in the query)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = s.select(F.col("source").alias("source_a"), "pos", F.col("s").alias("sa"))
    b = s.select(F.col("source").alias("source_b"), "pos", F.col("s").alias("sb"))
    pairs = (
        a.join(b, "pos")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("num"),
            F.sum(F.col("sa") * F.col("sa")).alias("na"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb"),
        )
    )
    cos = F.col("num").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return pairs.select("source_a", "source_b", F.round(cos, 6).alias("cos"))


# --- hybrid retrieval: reciprocal rank fusion ------------------------------
# The rank-fusion step every hybrid (lexical + semantic) retrieval
# stack runs: take the BM25 top-k and the embedding-cosine top-k for
# the same information need and fuse them with RRF
# (Cormack/Clarke/Buettcher 2009): score(d) = Σ_legs 1/(C + rank_leg(d)),
# C = 60. Ranks are exact integers, each leg contributes one IEEE
# division, and the two terms add in fixed (lexical, semantic) order —
# so the fused doubles, and therefore the fused ranking, replay
# bitwise in DuckDB.

RRF_C = 60
RRF_PROBE_ID = 0  # probe document: its embedding is the semantic query


def _rrf_oracle() -> str:
    return f"""
WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v FROM v WHERE id = {RRF_PROBE_ID}),
sem AS (
  SELECT id AS doc_id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT) AS rank_sem
  FROM (
    SELECT v.id, round({SIM.cosine_sql('q.v', 'v.v')}, 6) AS cos
    FROM v, q WHERE v.id <> {RRF_PROBE_ID}
  )
  QUALIFY rank_sem <= {BM25_TOP}
),
lex AS (SELECT doc_id, rank AS rank_lex FROM ({_bm25_oracle()})),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
         coalesce(1.0 / CAST({RRF_C} + rank_lex AS DOUBLE), 0.0)
         + coalesce(1.0 / CAST({RRF_C} + rank_sem AS DOUBLE), 0.0) AS rrf_raw
  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, round(rrf_raw, 6) AS rrf,
       CAST(row_number() OVER (ORDER BY rrf_raw DESC, doc_id) AS BIGINT) AS rank
FROM fused
"""


@register("rrf_hybrid_rank", oracle=_rrf_oracle())
def rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion: BM25 top-20 (the
    fixed 'join vector merge' query) fused with the cosine top-20
    around the probe document's embedding (doc_id = vec_id, the
    corpus convention established by source_similarity_q8).

    Shape at scale: each leg is its own already-scale-shaped ranked
    query (bm25_rank: one tokenize pass + TakeOrdered; the semantic
    leg: ann_topk_bruteforce's closure-broadcast Arrow scorer here,
    or any registered ANN variant at corpus scale — the fusion is
    leg-agnostic). The fusion itself touches only the two k-row
    ranked lists: a full outer join of two ≤k-row sets and one window
    over ≤2k rows — bounded by construction, independent of corpus
    size. The probe document itself is excluded from the semantic leg
    (self-match), mirroring the ANN queries.
    """
    lex = bm25_rank(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("rank_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") == RRF_PROBE_ID)
    sem = SIM.ann_topk_bruteforce(emb, probe, BM25_TOP, dim=EMB_DIM).select(
        F.col("neighbor").alias("doc_id"), F.col("rank").alias("rank_sem")
    )
    fused = lex.join(sem, ["doc_id"], "full_outer")
    rrf_raw = (
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_C) + F.col("rank_lex")).cast("double"),
            F.lit(0.0),
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_C) + F.col("rank_sem")).cast("double"),
            F.lit(0.0),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
    return (
        fused.withColumn("rrf_raw", rrf_raw)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            F.round("rrf_raw", 6).alias("rrf"),
            "rank",
        )
    )


# --- per-document TF-IDF keywords -----------------------------------------

_TFIDF_TOP = 3

_TFIDF_ORACLE = f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfc
  FROM (SELECT doc_id, unnest(w) AS term FROM words)
  GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS dfc FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         (CAST(tfc AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(dfc AS DOUBLE) AS s
  FROM tf JOIN dfs USING (term), n
)
SELECT doc_id, term, round(s, 6) AS tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {_TFIDF_TOP}
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 terms by TF-IDF with
    the module's rational idf (``tf · N / df`` — order-equivalent to
    tf · idf with idf = N/df; the textbook ``ln`` is dropped per the
    FP discipline above, since libm logs differ across engines while
    integer products and one IEEE division are bit-exact). Ties break
    on the term string, so the ranking is total and engine-stable.

    Shape at scale: the corpus tokenizes ONCE; explode feeds a
    map-side-combined (doc_id, term) count whose shuffle carries
    distinct pairs, not tokens. df is a second partial-agg over that
    compact tf table keyed by term (vocabulary-sized — NOT broadcast:
    at 100 TB the vocabulary is large, so tf ⋈ df is a shuffle hash
    join on term). N is a broadcast 1-row aggregate. The final top-3
    is a per-doc window — partitioned by doc_id, never global. The tf
    table persists across its two consumers (df build + score join)
    so the explode runs once.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    tf = (
        docs.select("doc_id", F.explode(word_split("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tfc"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfs.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tfc").cast("double") * F.col("n_docs").cast("double"))
                / F.col("dfc").cast("double")
            ).alias("s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _TFIDF_TOP)
        .select("doc_id", "term", F.round("s", 6).alias("tfidf"), "rk")
    )


# --- PMI bigram collocations ----------------------------------------------

PMI_MIN_COUNT = 3
PMI_TOP = 20

_PMI_ORACLE = f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM (
    SELECT w[i] AS w1, w[i + 1] AS w2
    FROM (SELECT w, unnest(range(1, greatest(len(w), 1))) AS i FROM words)
  )
  GROUP BY w1, w2
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(w) AS term FROM words) GROUP BY term
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_uni,
         (SELECT CAST(sum(c_xy) AS BIGINT) FROM bi) AS n_bi
  FROM uni
),
scored AS (
  SELECT w1, w2, c_xy,
         CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)
           / (CAST(n_bi AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS s
  FROM bi JOIN uni u1 ON bi.w1 = u1.term
          JOIN uni u2 ON bi.w2 = u2.term, tot
  WHERE c_xy >= {PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy, round(s, 6) AS pmi_ratio,
       CAST(row_number() OVER (ORDER BY s DESC, w1, w2) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {PMI_TOP}
"""


@register("pmi_bigrams", oracle=_PMI_ORACLE)
def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top-{PMI_TOP} word bigrams by
    pointwise mutual information with min support {PMI_MIN_COUNT} —
    the phrase-detection pass a tokenizer/vocabulary pipeline runs to
    decide which word pairs deserve a fused token. Per the module's FP
    discipline the log is dropped: the ranking uses the PMI ratio
    p(xy)/(p(x)p(y)) = c_xy·N_uni² / (N_bi·c_x·c_y) — order-equivalent
    to PMI = ln(ratio), and exact IEEE arithmetic over integer counts
    in both engines (ties break on the word pair, so the order is
    total).

    Shape at scale: ONE tokenize pass feeds both count tables; bigram
    and unigram counts are map-side-combined keyed aggs (shuffle =
    distinct pairs / terms, not the token stream); the two
    unigram-count attachments are vocabulary-sized keyed equi-joins
    (never broadcast — the vocab is large at 100 TB); the corpus
    totals are a broadcast 1-row aggregate; the final top-{PMI_TOP}
    is TakeOrdered (per-partition heaps), never a global sort.
    """
    from pyspark import StorageLevel

    docs = _spread(load_table(spark, sf_dir, "documents"), sf_dir)
    words = docs.select("doc_id", word_split("text").alias("w"))
    # Both count tables are persisted (vocabulary-sized aggregates):
    # uncached, the totals row re-evaluated bi AND uni and the scored
    # joins re-evaluated uni twice more — five corpus tokenize passes
    # for one query (plan carried 5 parquet scans, zero
    # ReusedExchange). With the caches the corpus is tokenized twice
    # (once per count table), and everything downstream reads
    # vocab-sized cached rows.
    bi = (
        words.select(F.explode(_bigram_pairs()).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = (
        words.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = bi.agg(F.sum("c_xy").alias("n_bi")).crossJoin(
        uni.agg(F.sum("c").alias("n_uni"))
    )
    scored = (
        bi.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(uni.select(F.col("term").alias("w1"), F.col("c").alias("c1")).hint("shuffle_hash"), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("c").alias("c2")).hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            (
                F.col("c_xy").cast("double")
                * F.col("n_uni").cast("double")
                * F.col("n_uni").cast("double")
                / (
                    F.col("n_bi").cast("double")
                    * F.col("c1").cast("double")
                    * F.col("c2").cast("double")
                )
            ).alias("s"),
        )
    )
    from pyspark.sql.window import Window

    top = scored.orderBy(F.desc("s"), "w1", "w2").limit(PMI_TOP)
    w = Window.orderBy(F.desc("s"), "w1", "w2")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("w1", "w2", "c_xy", F.round("s", 6).alias("pmi_ratio"), "rank")
    )
