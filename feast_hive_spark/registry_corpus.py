"""Corpus-statistics registry entries (operators/corpus.py): each
Spark plan paired with a DuckDB oracle twin built from the SAME
constants, so the driver's hash gate proves cross-engine equivalence.

Importing this module populates feast_hive_spark.registry.REGISTRY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feast_hive_spark.functions import text as X
from feast_hive_spark.plans.local import (
    local_frame,
    sorted_readout as _sorted_readout,
)
from feast_hive_spark.functions import vector as V
from feast_hive_spark.operators import corpus as C
from feast_hive_spark.registry import register
from feast_hive_spark.sources.tables import ensure_views, read_table

# shared constants — the Spark call AND the SQL twin derive from these
_CHUNK_TOKENS = 8
_BM25_TERMS = ("spark", "vector", "merge", "window")
_BM25_K = 15
_BM25_K1 = 1.2
_BM25_B = 0.75
_TEMP_ALPHA = 0.6
_TEMP_BUDGET = 0.5
_PMI_MIN_COUNT = 25
_PMI_TOP_N = 30

_H48_SQL = "CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"

@register(
    "unigram_nll_scores",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT SUM(cnt) AS T FROM vocab
), scored AS (
  SELECT tok,
         CAST(round((ln(CAST(T AS DOUBLE)) - ln(CAST(cnt AS DOUBLE))) * 1000000) AS BIGINT) AS nll_micro
  FROM vocab, total
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       ROUND(CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) / 1000000, 4) AS avg_nll
FROM toks t JOIN scored s ON t.tok = s.tok
GROUP BY t.doc_id
""",
)
def unigram_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the
    corpus's own unigram LM — the cheap quality/outlier score
    (rare-token-heavy docs float to the top). Probabilities are
    computed vocabulary-side and fixed-pointed to micro-nats before
    the per-doc sum, so the value hash matches DuckDB exactly."""
    docs = read_table(spark, sf_dir, "documents")
    return C.unigram_nll_scores(docs, "doc_id", "text")


_OV_CHUNK = 32  # sliding-window chunk size (tokens)
_OV_STRIDE = 24  # window stride -> 8 tokens of overlap


@register(
    "chunk_documents_overlap",
    f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), g AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, greatest(n - 1, 0), {_OV_STRIDE})) AS gs
  FROM t
)
SELECT doc_id,
       CAST(gs // {_OV_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(gs AS BIGINT) AS start_tok,
       CAST(LEAST({_OV_CHUNK}, n - gs) AS BIGINT) AS n_tok,
       substr(md5(array_to_string(toks[gs + 1 : gs + {_OV_CHUNK}], ' ')), 1, 16) AS chunk_fp
FROM g
""",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (RAG / pretraining context
    windows): every document becomes ceil(n_tok/stride) chunks of up
    to {chunk} tokens with {overlap} tokens of overlap, each carrying
    a 16-hex md5 fingerprint. Pure codegen explode — no shuffle; the
    DuckDB twin is generate_series over the same token arrays."""
    docs = read_table(spark, sf_dir, "documents")
    return C.chunk_overlap(
        docs, "doc_id", "text", chunk_tokens=_OV_CHUNK, stride=_OV_STRIDE
    )


@register(
    "dedup_paragraph_chunks",
    f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
chunks AS (
  SELECT doc_id, i AS cpos,
         array_to_string(t[i*{_CHUNK_TOKENS}+1 : i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS}], ' ') AS chunk
  FROM tok, LATERAL (
    SELECT unnest(generate_series(0, CAST(ceil(len(t) / {_CHUNK_TOKENS}.0) AS INT) - 1)) AS i
  )
),
ranked AS (
  SELECT doc_id, cpos, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cpos) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(chunk, ' ' ORDER BY cpos) FILTER (WHERE rn = 1), '')) AS clean_fp
FROM ranked
GROUP BY doc_id
""",
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph (chunk) dedup: drop every repeat of a
    chunk after its global first occurrence, reassemble survivors in
    document order. Survivor voting shuffles 8-byte chunk hashes
    only; document text crosses the wire once (doc-keyed join)."""
    docs = read_table(spark, sf_dir, "documents")
    return C.chunk_dedup(docs, "doc_id", "text", chunk_tokens=_CHUNK_TOKENS)


def _bm25_oracle() -> str:
    tf_defs = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_defs = ",\n         ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, b = _BM25_K1, _BM25_B
    parts = " + ".join(
        f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (CAST(tf{i} AS DOUBLE) * ({k1} + 1))"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ({1 - b} + {b} * dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl,
         {tf_defs}
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
stats AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
         {df_defs}
  FROM base
),
scored AS (
  SELECT doc_id, ROUND({parts}, 4) AS bm25
  FROM base, stats
)
SELECT doc_id, bm25 FROM scored
WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_BM25_K}
"""


@register("bm25_search_topk", _bm25_oracle())
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query-term set: per-doc term
    frequencies via JVM array filter (no explode), corpus stats via
    one broadcast 1-row aggregate — shuffle-free per document."""
    docs = read_table(spark, sf_dir, "documents")
    return C.bm25_score(
        docs, "doc_id", "text", list(_BM25_TERMS), k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


@register(
    "temperature_sample_by_lang",
    f"""
WITH s AS (
  SELECT lang, COUNT(*) AS ng FROM documents GROUP BY lang
),
t AS (
  SELECT SUM(ng) AS n, SUM(pow(CAST(ng AS DOUBLE), {_TEMP_ALPHA})) AS z FROM s
),
p AS (
  SELECT lang, ng,
         LEAST(10000, CAST(ROUND({_TEMP_BUDGET} * n * pow(CAST(ng AS DOUBLE), {_TEMP_ALPHA}) / z / ng * 10000) AS BIGINT)) AS keep_bp
  FROM s, t
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(p.keep_bp) AS keep_bp
FROM documents d
JOIN p ON d.lang = p.lang
WHERE {_H48_SQL} % 10000 < p.keep_bp
GROUP BY d.lang
""",
)
def temperature_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted sampling (p_g ∝ n_g^alpha): stateless
    md5-threshold acceptance, per-group keep probabilities from a
    #groups-row broadcast — zero data shuffles besides this final
    reporting aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    kept = C.temperature_sample(
        docs, "lang", "doc_id", alpha=_TEMP_ALPHA, budget_frac=_TEMP_BUDGET,
        keep_col="keep_bp",
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("keep_bp").alias("keep_bp"),
    )


@register(
    "embedding_quantization_error",
    """
WITH scaled AS (
  SELECT label, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
         list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
q AS (
  -- zero-vector guard mirrors the Spark plan: norm 0 => rel 0, never NaN
  SELECT label,
         CASE WHEN nrm > 0 THEN CAST(ROUND(
           list_sum(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / s) * s)))
           / nrm * 1000000) AS BIGINT) ELSE 0 END AS rm
  FROM scaled
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(rm) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_rel_err,
       ROUND(MAX(rm) / 1000000.0, 6) AS max_rel_err
FROM q
GROUP BY label
""",
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization reconstruction error per label:
    elementwise codegen array math; per-row error fixed to micro-unit
    BIGINTs before the aggregate so cross-engine sums are exact."""
    emb = read_table(spark, sf_dir, "embeddings")
    return C.quantize_error_stats(emb, "embedding", "label", bits=8)


@register(
    "bigram_pmi_top",
    f"""
WITH tok AS (
  SELECT string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
),
bgc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY w1, w2
),
unic AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT unnest(t) AS w FROM tok)
  GROUP BY w
),
tot AS (
  SELECT (SELECT CAST(SUM(c_w) AS DOUBLE) FROM unic) AS u,
         (SELECT CAST(SUM(c_ab) AS DOUBLE) FROM bgc) AS b
)
SELECT bgc.w1, bgc.w2, c_ab,
       ROUND(ln(CAST(c_ab AS DOUBLE) * u * u / (b * a.c_w * bb.c_w)), 4) AS pmi
FROM bgc
JOIN unic a ON bgc.w1 = a.w
JOIN unic bb ON bgc.w2 = bb.w
CROSS JOIN tot
WHERE c_ab >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, bgc.w1 ASC, bgc.w2 ASC
LIMIT {_PMI_TOP_N}
""",
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by PMI: bigrams built JVM-side from the
    token array (no self-join/window); shuffles are vocabulary-sized
    count aggregates, totals ride a broadcast 1-row cross join."""
    docs = read_table(spark, sf_dir, "documents")
    return C.bigram_pmi(
        docs, "text", min_count=_PMI_MIN_COUNT, top_n=_PMI_TOP_N
    )


_SPAN_TOKENS = 13
_TFIDF_TOP = 3


@register(
    "span_dedup_stats",
    f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
win AS (
  SELECT doc_id, md5(array_to_string(t[i : i+{_SPAN_TOKENS - 1}], ' ')) AS wh
  FROM tok, LATERAL (
    SELECT unnest(generate_series(1, len(t) - {_SPAN_TOKENS - 1})) AS i
  )
  WHERE len(t) >= {_SPAN_TOKENS}
),
freq AS (SELECT wh, COUNT(*) AS c FROM win GROUP BY wh),
per AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM win JOIN freq USING (wh)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_windows,
       ROUND(COALESCE(n_dup, 0) / GREATEST(COALESCE(n_windows, 0), 1), 6) AS dup_frac
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
""",
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unaligned duplicate-span detection (Lee et al. 2021 shape):
    per-doc fraction of sliding 13-token windows that recur anywhere
    in the corpus at any alignment. Shuffles 16-byte window hashes,
    never text bodies."""
    docs = read_table(spark, sf_dir, "documents")
    return C.span_dup_stats(docs, "doc_id", "text", span_tokens=_SPAN_TOKENS)


@register(
    "tfidf_top_terms",
    f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
n AS (SELECT COUNT(*) AS nd FROM tok),
tf AS (
  SELECT doc_id, len(t) AS dl, w AS term, COUNT(*) AS tc
  FROM tok, LATERAL (SELECT unnest(t) AS w)
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, COUNT(*) AS dfq FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term,
         ROUND(CAST(tc AS DOUBLE) / dl * ln(CAST(nd AS DOUBLE) / dfq), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TFIDF_TOP}
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (top 3): one explode +
    (doc, term) aggregate, a vocabulary-sized df join, and a per-doc
    row_number window over scores rounded BEFORE ranking so tie order
    is engine-independent."""
    docs = read_table(spark, sf_dir, "documents")
    return C.tfidf_top_terms(docs, "doc_id", "text", top_per_doc=_TFIDF_TOP)


_EPOCH = 1


@register(
    "epoch_shuffle_head",
    f"""
SELECT doc_id,
       CAST(('0x' || substr(md5('epoch:{_EPOCH}:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS shuffle_key
FROM documents
ORDER BY shuffle_key ASC, doc_id ASC
LIMIT 20
""",
)
def epoch_shuffle_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: the first 20 docs of
    epoch 1's permutation. Stateless md5 key — reproducible across
    runs, engines, and cluster sizes with no RNG or driver-side
    permutation (operators/curate.py:epoch_shuffle)."""
    from feast_hive_spark.operators.curate import epoch_shuffle

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return (
        epoch_shuffle(docs, "doc_id", _EPOCH)
        .orderBy(F.col("shuffle_key").asc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "pack_sequences_by_lang",
    """
WITH lens AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok FROM documents
),
ordered AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (
           PARTITION BY lang ORDER BY n_tok DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM lens
)
SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin_id
FROM ordered
""",
)
def pack_sequences_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sequence packing into 2048-token bins (monolingual
    batch construction): one per-group window shuffle, groups pack in
    parallel, no driver totals pass (operators/pack.py:
    pack_sequences_grouped)."""
    from feast_hive_spark.operators.pack import pack_sequences_grouped

    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    out = pack_sequences_grouped(lens, "doc_id", "n_tok", 2048, ["lang"])
    return out.select("doc_id", "lang", "n_tok", "bin_id")


_QW_SCALE = 0.8  # keep_prob = min(1, quality * _QW_SCALE)


def _qw_oracle() -> str:
    from feast_hive_spark.functions.text import duck_quality_score

    return f"""
WITH scored AS (
  SELECT doc_id, lang, {duck_quality_score('text')} AS quality FROM documents
),
kept AS (
  SELECT doc_id, lang
  FROM scored
  WHERE CAST(('0x' || substr(md5('qw:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 10000
        < LEAST(10000, CAST(ROUND(quality * {_QW_SCALE} * 10000) AS BIGINT))
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept GROUP BY lang
"""


@register("quality_weighted_sample", _qw_oracle())
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling: per-row keep probability
    proportional to the document's quality score (min(1, q*0.8)),
    accepted by the stateless md5 threshold — high-quality docs
    survive preferentially with zero shuffles and full
    reproducibility. Reported as per-language kept counts."""
    from feast_hive_spark.functions.text import h48, quality_score

    docs = read_table(spark, sf_dir, "documents")
    keep_bp = F.least(
        F.lit(10000),
        F.round(quality_score("text") * _QW_SCALE * 10000).cast("long"),
    )
    bucket = F.pmod(
        h48(F.concat(F.lit("qw:"), F.col("doc_id").cast("string"))), F.lit(10000)
    )
    return (
        docs.filter(bucket < keep_bp)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "text_normalize_fp",
    """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_fp,
       (trim(regexp_replace(lower(text), ' +', ' ', 'g')) <> text) AS changed
FROM documents
""",
)
def text_normalize_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, collapse runs of
    spaces, trim) — the first stage of every corpus pipeline, gated by
    the md5 of the normalized text. Pure codegen string ops, zero
    shuffles; Java regex and RE2 agree on this pattern class."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        (norm != F.col("text")).alias("changed"),
    )


@register(
    "shingle_novelty_scores",
    f"""
WITH sh AS (
  SELECT doc_id, unnest({X.duck_shingle_hashes('text', 3)}) AS sh
  FROM documents
), firsts AS (
  SELECT doc_id, sh, MIN(doc_id) OVER (PARTITION BY sh) AS first_doc
  FROM sh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS novelty
FROM firsts GROUP BY doc_id
""",
)
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty vs the rest of the corpus: share of the doc's
    distinct 3-gram shingles first introduced by this doc (min-doc_id
    ownership) — the contribution/redundancy ranking signal for
    corpus curation. One slim (id, 48-bit shingle hash) shuffle for
    the ownership window, one per-doc rollup."""
    docs = read_table(spark, sf_dir, "documents")
    return C.shingle_novelty(docs, "doc_id", "text", n=3)


@register(
    "token_budget_selection",
    f"""
WITH q AS (
  SELECT doc_id, {X.duck_quality_score('text')} AS quality,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
), tot AS (SELECT SUM(n_tok) AS T FROM q),
c AS (
  SELECT doc_id, quality, n_tok,
         SUM(n_tok) OVER (ORDER BY quality DESC, doc_id) AS cum_tok
  FROM q
)
SELECT doc_id, quality, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
FROM c, tot WHERE cum_tok <= CAST(floor(0.5 * T) AS BIGINT)
""",
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first greedy selection under a token budget (half the
    corpus total): the docs whose cumulative token count, in
    (quality desc, doc_id) order, fits the budget. The running sum is
    a distributed prefix-sum (range partition + per-partition window
    + broadcast offsets — operators/pack.py pattern), never a global
    single-partition window; the per-partition totals collect also
    yields the corpus total, so the budget costs no extra pass."""
    docs = read_table(spark, sf_dir, "documents")
    return C.select_token_budget(docs, "doc_id", "text", budget_frac=0.5)


_DSIR_TARGET = "src0"


@register(
    "dsir_importance_weights",
    f"""
WITH toks AS (
  SELECT doc_id, source = '{_DSIR_TARGET}' AS tgt,
         unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS cc,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
  FROM toks GROUP BY tok
), scal AS (
  SELECT SUM(cc) AS Tc, SUM(ct) AS Tt, COUNT(*) AS V FROM vocab
), scored AS (
  SELECT tok,
         CAST(round((ln(CAST(ct + 1 AS DOUBLE) / (Tt + V))
                     - ln(CAST(cc AS DOUBLE) / Tc)) * 1000000) AS BIGINT)
           AS lr_micro
  FROM vocab, scal
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       ROUND(CAST(SUM(lr_micro) AS DOUBLE) / COUNT(*) / 1000000, 4)
         AS avg_logratio
FROM toks t JOIN scored s USING (tok)
GROUP BY t.doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: per-doc average unigram
    log-likelihood ratio of the '{target}' source slice vs the whole
    corpus (add-one smoothing over the corpus vocabulary). Positive =
    target-like. Both LMs are vocabulary-sized aggregates; per-token
    ratios fixed to micro-nats before the per-doc sum."""
    docs = read_table(spark, sf_dir, "documents")
    flagged = docs.withColumn("__is_tgt", F.col("source") == _DSIR_TARGET)
    return C.dsir_logweights(flagged, "doc_id", "text", "__is_tgt")


@register(
    "quality_percentile_by_source",
    f"""
WITH q AS (
  SELECT doc_id, source, {X.duck_quality_score('text')} AS quality
  FROM documents
)
SELECT doc_id, source, quality,
       ROUND(percent_rank() OVER (
         PARTITION BY source ORDER BY quality, doc_id), 6) AS q_pct
FROM q
""",
)
def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality percentile (percent_rank with a doc_id
    tiebreak): normalizes the quality signal WITHIN each domain so a
    global budget/threshold doesn't just drain the one domain with a
    generous scorer — the calibration step before cross-domain
    selection. Distributed two-phase percent_rank (range partition +
    broadcast offsets, operators/corpus.grouped_percent_rank) — no
    source-keyed window, so a whale domain owning most of the corpus
    spreads across partitions instead of pinning one sort."""
    docs = read_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", X.quality_score("text").alias("quality")
    )
    return C.grouped_percent_rank(
        q, "source", "quality", "doc_id", out_col="q_pct"
    )


_BGLM_LAM = 0.7
# the interpolation complement as Python computes it (1.0 - 0.7 is
# NOT the double nearest 0.3); the twin must parse the same bits
_BGLM_LAM_C = repr(1.0 - _BGLM_LAM)


@register(
    "bigram_nll_scores",
    f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tw FROM documents
), bg AS (
  SELECT doc_id, unnest(CASE WHEN len(tw) >= 2 THEN
    list_transform(range(1, len(tw)), i -> tw[i] || ' ' || tw[i+1])
    ELSE [] END) AS bg
  FROM w
), bgc AS (
  SELECT bg, COUNT(*) AS cab FROM bg GROUP BY bg
), left_tot AS (
  SELECT string_split(bg, ' ')[1] AS a, SUM(cab) AS ca
  FROM bgc GROUP BY 1
), uni AS (
  SELECT tok, COUNT(*) AS cb
  FROM (SELECT unnest(tw) AS tok FROM w) GROUP BY tok
), tot AS (SELECT SUM(cb) AS T FROM uni),
scored AS (
  SELECT bgc.bg,
         CAST(round(-ln({_BGLM_LAM} * (CAST(cab AS DOUBLE) / ca)
                        + {_BGLM_LAM_C} * (CAST(cb AS DOUBLE) / T))
                    * 1000000) AS BIGINT) AS nm
  FROM bgc
  JOIN left_tot ON string_split(bgc.bg, ' ')[1] = left_tot.a
  JOIN uni ON string_split(bgc.bg, ' ')[2] = uni.tok
  CROSS JOIN tot
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(nm) AS DOUBLE) / COUNT(*) / 1000000, 4) AS avg_nll
FROM bg b JOIN scored s ON b.bg = s.bg
GROUP BY b.doc_id
""",
)
def bigram_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring (lam=0.7 bigram, 0.3 unigram
    backoff): the transition-aware quality signal that flags
    word-salad text whose unigram profile looks normal. Both models
    are vocabulary-sized aggregates; per-bigram NLL is fixed to
    micro-nats vocab-side so the per-doc sums hash-match DuckDB."""
    docs = read_table(spark, sf_dir, "documents")
    return C.bigram_nll_scores(docs, "doc_id", "text", lam=_BGLM_LAM)


_PAD_BATCH = 32


@register(
    "padding_efficiency_report",
    f"""
WITH t AS (
  SELECT doc_id, CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
), a AS (
  SELECT n_tok,
         (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {_PAD_BATCH} AS b
  FROM t
), s AS (
  SELECT n_tok,
         (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1) // {_PAD_BATCH} AS b
  FROM t
), pa AS (
  SELECT SUM(mx * c) AS padded FROM (
    SELECT MAX(n_tok) AS mx, COUNT(*) AS c FROM a GROUP BY b)
), ps AS (
  SELECT SUM(mx * c) AS padded FROM (
    SELECT MAX(n_tok) AS mx, COUNT(*) AS c FROM s GROUP BY b)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
       CAST(pa.padded AS BIGINT) AS padded_arrival,
       CAST(ps.padded AS BIGINT) AS padded_sorted,
       ROUND((pa.padded - ps.padded) * 1.0 / pa.padded, 6) AS saving_pct
FROM t, pa, ps
GROUP BY pa.padded, ps.padded
""",
)
def padding_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What length-sorted batching saves vs arrival order (batch=32,
    each batch padded to its own max token count) — the one-row
    evidence for a pre-trainer sort/bucketing step. Both rankings use
    the distributed range-partition + broadcast-offset prefix
    pattern, never a global single-partition window."""
    from feast_hive_spark.operators.pack import padding_efficiency_report as P

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", X.token_count_ws("text").alias("n_tok"))
    return P(t, "doc_id", "n_tok", batch_size=_PAD_BATCH)


_BOILER_TOP = 25


@register(
    "boilerplate_shingles",
    f"""
WITH sh AS (
  SELECT doc_id, unnest({X.duck_shingles('text', 3)}) AS s FROM documents
), df AS (
  SELECT s, COUNT(*) AS doc_freq FROM sh GROUP BY s
), tot AS (SELECT COUNT(*) AS n FROM documents)
SELECT s AS shingle, CAST(doc_freq AS BIGINT) AS doc_freq,
       ROUND(doc_freq * 1.0 / tot.n, 6) AS df_ratio
FROM df, tot
ORDER BY doc_freq DESC, s
LIMIT {_BOILER_TOP}
""",
)
def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the {top} highest-document-frequency 3-gram
    shingles with their df ratio — the stop-phrase list that feeds
    ngram_jaccard_pairs' max_doc_freq cap and explains what chunk
    dedup will strip. Distinct shingles per doc explode map-side;
    partial agg collapses hot shingles before the vocabulary-sized
    exchange; top-N is a TakeOrdered."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    sh = toks.select(
        "doc_id", F.explode(X.shingles_from(F.col("__toks"), 3)).alias("s")
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("shingle"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.round(F.col("doc_freq") / F.col("n"), 6).alias("df_ratio"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("shingle"))
        .limit(_BOILER_TOP)
    )


_OOV_VOCAB_TOP = 20


@register(
    "oov_rate_scores",
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS r
    FROM toks GROUP BY tok
  ) WHERE r <= {_OOV_VOCAB_TOP}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
""",
)
def oov_rate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-{k} vocabulary — the cheap tokenizer-fit / gibberish signal
    (high OOV = content a fixed vocabulary spends many tokens on).
    The vocabulary is a TakeOrdered over the token counts (broadcast
    back); the doc stream left-joins it and re-aggregates — one
    vocabulary-sized exchange plus the per-doc rollup.

    Physical shape: both the vocabulary and the per-doc readout
    derive from ONE cached (doc, token, count) rollup, so the corpus
    is tokenized+exploded once per run instead of once per consumer
    (the global token count is the sum of per-doc counts). The
    cached frame is doc-vocabulary-sized — the same sublinear-in-
    token-volume class as the LM-score family's vocab caches."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(X.words("text")).alias("tok")
    )
    rollup = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .cache()
    )
    vocab = (
        rollup.groupBy("tok")
        .agg(F.sum("__c").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_OOV_VOCAB_TOP)
        .select("tok", F.lit(1).alias("__in"))
    )
    return (
        rollup.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("__c").alias("n_tok"),
            F.sum(
                F.when(F.col("__in").isNull(), F.col("__c")).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.col("n_oov").cast("long").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tok"), 6).alias("oov_rate"),
        )
    )


_VCC_KS = (10, 100, 1000, 10000)


@register(
    "vocab_coverage_curve",
    f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), total AS (
  SELECT SUM(c) AS total_tokens FROM vocab
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn,
         SUM(c) OVER (ORDER BY c DESC, tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vocab
), ks(k) AS (VALUES {", ".join(f"({k})" for k in _VCC_KS)})
SELECT CAST(k AS BIGINT) AS k,
       CAST(MAX(cum) AS BIGINT) AS covered_tokens,
       CAST(MAX(total_tokens) AS BIGINT) AS total_tokens,
       (1000000 * CAST(MAX(cum) AS BIGINT)) // CAST(MAX(total_tokens) AS BIGINT) AS coverage_ppm
FROM ranked, ks, total
WHERE rn <= k
GROUP BY k
""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary coverage curve (operators/corpus.py): the
    tokenizer-design diagnostic — what fraction of token occurrences
    the k most frequent types cover. Spark side is a distributed
    TakeOrdered top-k + a <=max_k-row cumulative window; the DuckDB
    twin ranks the whole vocabulary (fine at oracle scale)."""
    docs = read_table(spark, sf_dir, "documents")
    return C.vocab_coverage_curve(docs, "text", ks=_VCC_KS)


@register(
    "perplexity_buckets_summary",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), total AS (
  SELECT SUM(cnt) AS T FROM vocab
), scored AS (
  SELECT tok,
         CAST(round((ln(CAST(T AS DOUBLE)) - ln(CAST(cnt AS DOUBLE))) * 1000000) AS BIGINT) AS nll_micro
  FROM vocab, total
), perdoc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         ROUND(CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) / 1000000, 4) AS avg_nll
  FROM toks t JOIN scored s ON t.tok = s.tok
  GROUP BY t.doc_id
), ranked AS (
  SELECT doc_id, n_tok, avg_nll,
         ROUND(PERCENT_RANK() OVER (ORDER BY avg_nll, doc_id), 6) AS pct
  FROM perdoc
), bucketed AS (
  SELECT *,
         CAST(least(2, CAST(floor(pct * 3) AS INTEGER)) AS BIGINT) AS ppl_bucket
  FROM ranked
)
SELECT ppl_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       ROUND(MIN(avg_nll), 4) AS min_nll,
       ROUND(MAX(avg_nll), 4) AS max_nll
FROM bucketed
GROUP BY ppl_bucket
""",
)
def perplexity_buckets_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity thirds over the corpus unigram LM
    (operators/corpus.perplexity_buckets), summarized per bucket so
    the oracle certifies BOTH the NLL scoring and the global
    percent-rank bucket assignment (which routes through the
    whale-group path of grouped_percent_rank — the r5 deterministic
    value-bucket prefix machinery)."""
    docs = read_table(spark, sf_dir, "documents")
    b = C.perplexity_buckets(docs, "doc_id", "text", n_buckets=3)
    return b.groupBy("ppl_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tok"),
        F.round(F.min("avg_nll"), 4).alias("min_nll"),
        F.round(F.max("avg_nll"), 4).alias("max_nll"),
    )


@register(
    "dense_vocab_ids",
    """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
)
SELECT tok,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) - 1 AS BIGINT)
         AS vocab_id
FROM vocab
""",
)
def dense_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable dense id assignment (tokenizer vocab ids: 0 = most
    frequent) via operators/prefix.global_row_number — the
    monotonically_increasing_id replacement that is actually dense,
    deterministic, and re-executable: quantile buckets on the count
    column + bucket-local row_number + broadcast offsets, never a
    vocabulary-wide single-partition sort."""
    from feast_hive_spark.operators.prefix import global_row_number

    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(X.words("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = global_row_number(
        vocab,
        "cnt",
        [F.col("cnt").desc(), F.col("tok")],
        n_buckets=32,
        out_col="__rn",
        descending=True,
    )
    return ranked.select(
        "tok", "cnt", (F.col("__rn") - 1).cast("long").alias("vocab_id")
    )


_GBS_BP = 6000  # keep 60% of each language's token mass


@register(
    "per_lang_token_budget",
    f"""
WITH scored AS (
  SELECT doc_id, lang,
         {X.duck_quality_score('text')} AS quality,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
), cum AS (
  SELECT lang, doc_id, quality, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang
                          ORDER BY quality DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_weight,
         SUM(n_tok) OVER (PARTITION BY lang) AS total
  FROM scored
)
SELECT lang, doc_id, quality,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_weight AS BIGINT) AS cum_weight
FROM cum
WHERE cum_weight <= (total * {_GBS_BP}) // 10000
""",
)
def per_lang_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group greedy budget selection (operators/corpus.
    grouped_budget_select): each language keeps its highest-quality
    documents up to 60% of ITS token mass — the per-domain corpus-mix
    refinement of token-budget selection. Integer basis-point budget
    arithmetic makes the cut bit-exact; a whale language spreads
    across the deterministic quantile buckets instead of pinning one
    sort partition (the oracle's group-keyed window is the
    oracle-scale-only formulation)."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        X.quality_score("text").alias("quality"),
        X.token_count_ws("text").cast("long").alias("n_tok"),
    )
    return C.grouped_budget_select(
        scored, "lang", "quality", "n_tok", "doc_id", frac_bp=_GBS_BP
    )


@register(
    "holdout_nll_scores",
    """
WITH marked AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 10000 AS b
  FROM documents
), train AS (
  SELECT * FROM marked WHERE b < 9000
), val AS (
  SELECT * FROM marked WHERE b >= 9000
), ttoks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM train
), vocab AS (
  SELECT tok, COUNT(*) AS c FROM ttoks GROUP BY tok
), scalars AS (
  SELECT SUM(c) AS T, COUNT(*) AS V FROM vocab
), scored AS (
  SELECT tok,
         CAST(ROUND(-ln(CAST(c + 1 AS DOUBLE) / (T + V + 1)) * 1000000) AS BIGINT) AS nll_micro
  FROM vocab, scalars
), vtoks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM val
), joined AS (
  SELECT v.doc_id,
         CASE WHEN s.nll_micro IS NULL THEN 1 ELSE 0 END AS oov,
         COALESCE(
           s.nll_micro,
           CAST(ROUND(-ln(1.0 / (sc.T + sc.V + 1)) * 1000000) AS BIGINT)
         ) AS nll
  FROM vtoks v LEFT JOIN scored s ON s.tok = v.tok, scalars sc
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*) / 1000000, 4) AS avg_nll
FROM joined
GROUP BY doc_id
""",
)
def holdout_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out unigram perplexity (operators/corpus.
    holdout_nll_scores): the LM is fitted on the deterministic 90%
    hash-split train slice (add-one smoothing + an OOV bucket) and
    scores the 10% val slice — the honest generalization number, with
    the OOV count doubling as a vocabulary-coverage signal."""
    docs = read_table(spark, sf_dir, "documents")
    return C.holdout_nll_scores(docs, "doc_id", "text")


_RRF_K = 60  # the standard RRF damping constant
_RRF_LIST = 50  # per-ranker candidate list length
_RRF_TOP = 10


def _rrf_oracle() -> str:
    """Hybrid-search twin: the BM25 oracle's scoring re-ranked to a
    50-deep lexical list, the cosine oracle's formula ranked to a
    50-deep semantic list for query vector 0, fused by reciprocal
    rank: rrf = 1/(60+rank_lex) + 1/(60+rank_sem), absent list
    membership contributing 0. The fixed two-term sum is evaluated in
    the same order both engines, so the fused scores hash-match."""
    tf_defs = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_defs = ",\n         ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, b = _BM25_K1, _BM25_B
    parts = " + ".join(
        f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (CAST(tf{i} AS DOUBLE) * ({k1} + 1))"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ({1 - b} + {b} * dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(t) AS dl,
         {tf_defs}
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
stats AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl, {df_defs} FROM base
),
lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_lex
  FROM (SELECT doc_id, ROUND({parts}, 4) AS bm25 FROM base, stats)
  WHERE bm25 > 0
  QUALIFY rank_lex <= {_RRF_LIST}
),
e AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
sem AS (
  SELECT neighbor_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank_sem
  FROM (
    SELECT c.vec_id AS neighbor_id,
           ROUND({V.duck_cosine('c.embedding', 'q.qv')}, 6) AS cosine
    FROM q JOIN e c ON c.vec_id <> 0
  )
  QUALIFY rank_sem <= {_RRF_LIST}
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.rank_lex, s.rank_sem,
         ROUND(COALESCE(1.0 / ({_RRF_K} + l.rank_lex), 0)
               + COALESCE(1.0 / ({_RRF_K} + s.rank_sem), 0), 6) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
FROM fused
QUALIFY rank <= {_RRF_TOP}
"""


@register("hybrid_search_rrf", _rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — the modern
    search default: a 50-deep BM25 lexical list and a 50-deep
    exact-cosine semantic list (query = embedding 0) fused as
    ``1/(60+rank_lex) + 1/(60+rank_sem)``. Each list is produced by
    its own scale-shaped kernel (shuffle-free BM25; batched matmul
    top-k); the fusion windows run on <= 50-row lists BY CONSTRUCTION
    (rank fusion only ever sees the candidate lists, never the
    corpus)."""
    from feast_hive_spark.operators import simsearch as S
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    lex = C.bm25_score(
        docs, "doc_id", "text", list(_BM25_TERMS),
        k=_RRF_LIST, k1=_BM25_K1, b=_BM25_B,
    )
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("rank_lex")
    )
    sem = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding",
        k=_RRF_LIST,
    )
    sem_r = sem.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("rank_sem"),
    )
    fused = (
        lex_r.join(sem_r, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rank_sem")), F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= _RRF_TOP)
        .select("doc_id", "rank_lex", "rank_sem", "rrf", "rank")
    )


_BPE_ROUNDS = 5


def _bpe_oracle() -> str:
    """Unrolled BPE twin: the bracket-sentinel string device makes
    merge application a LITERAL replace (non-overlapping
    left-to-right == canonical greedy BPE), so each round is a pair
    count + argmax + replace over MATERIALIZED vocabulary-sized CTEs
    — deterministic end-to-end, ties on the pair ascending."""
    sql = """
WITH w0 AS MATERIALIZED (
  SELECT w, COUNT(*) AS f FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z0-9]+$')
  GROUP BY w
), s0 AS MATERIALIZED (
  SELECT f, regexp_replace(w, '(.)', '⟨\\1⟩', 'g') || '⟨/w⟩' AS seq FROM w0
)"""
    for r in range(1, _BPE_ROUNDS + 1):
        p = r - 1
        sql += f""",
p{r} AS MATERIALIZED (
  SELECT l[i] AS s1, l[i + 1] AS s2, CAST(SUM(f) AS BIGINT) AS pf
  FROM (SELECT f, string_split(trim(seq, '⟨⟩'), '⟩⟨') AS l FROM s{p}) t,
       LATERAL (SELECT unnest(range(1, len(l))) AS i) g
  GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT s1, s2, pf FROM p{r} ORDER BY pf DESC, s1, s2 LIMIT 1
), s{r} AS MATERIALIZED (
  SELECT f,
         replace(seq, '⟨' || b.s1 || '⟩⟨' || b.s2 || '⟩',
                 '⟨' || b.s1 || b.s2 || '⟩') AS seq
  FROM s{p}, b{r} b
)"""
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, s1 AS left_sym, "
        f"s2 AS right_sym, pf AS pair_freq FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return sql + "\n" + selects


@register("bpe_merge_table", _bpe_oracle())
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/corpus.bpe_merges): the
    first 5 learned merges over the corpus word-frequency table —
    validated against the classic reference algorithm in pytest and
    hash-gated against a fully unrolled DuckDB twin here. Training
    state is vocabulary-sized (BPE never touches the corpus after
    the word count); each round is one vocab aggregate + a 1-row
    argmax + a literal replace."""
    from feast_hive_spark.operators.corpus import bpe_merges

    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_merges(docs, "text", n_merges=_BPE_ROUNDS)
    return local_frame(
        spark,
        merges,
        "merge_round long, left_sym string, right_sym string, pair_freq long",
    )


def _bpe_encode_oracle() -> str:
    """Twin of bpe_encode_stats: re-learns the 5 merges with the same
    unrolled CTEs as the training twin, then applies them to every
    word occurrence as a chain of literal replaces and counts
    surviving bracket sentinels."""
    sql = """
WITH w0 AS MATERIALIZED (
  SELECT w, COUNT(*) AS f FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z0-9]+$')
  GROUP BY w
), s0 AS MATERIALIZED (
  SELECT f, regexp_replace(w, '(.)', '⟨\\1⟩', 'g') || '⟨/w⟩' AS seq FROM w0
)"""
    for r in range(1, _BPE_ROUNDS + 1):
        p = r - 1
        sql += f""",
p{r} AS MATERIALIZED (
  SELECT l[i] AS s1, l[i + 1] AS s2, CAST(SUM(f) AS BIGINT) AS pf
  FROM (SELECT f, string_split(trim(seq, '⟨⟩'), '⟩⟨') AS l FROM s{p}) t,
       LATERAL (SELECT unnest(range(1, len(l))) AS i) g
  GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT s1, s2, pf FROM p{r} ORDER BY pf DESC, s1, s2 LIMIT 1
), s{r} AS MATERIALIZED (
  SELECT f,
         replace(seq, '⟨' || b.s1 || '⟩⟨' || b.s2 || '⟩',
                 '⟨' || b.s1 || b.s2 || '⟩') AS seq
  FROM s{p}, b{r} b
)"""
    apply = "regexp_replace(w, '(.)', '⟨\\1⟩', 'g') || '⟨/w⟩'"
    for r in range(1, _BPE_ROUNDS + 1):
        apply = (
            f"replace({apply}, '⟨' || b{r}.s1 || '⟩⟨' || b{r}.s2 || '⟩', "
            f"'⟨' || b{r}.s1 || b{r}.s2 || '⟩')"
        )
    froms = ", ".join(f"b{r}" for r in range(1, _BPE_ROUNDS + 1))
    sql += f""",
dtoks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents
), enc AS (
  SELECT doc_id, length(w) AS nc,
         length(es) - length(replace(es, '⟨', '')) AS nt
  FROM (
    SELECT doc_id, w, {apply} AS es
    FROM dtoks, {froms}
    WHERE regexp_matches(w, '^[a-z0-9]+$')
  )
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM enc
GROUP BY doc_id
"""
    return sql


@register("bpe_encode_stats", _bpe_encode_oracle())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus and report per-doc
    token counts (operators/corpus.bpe_encode_stats) — the
    compression-ratio readout. Encoding is map-only (a fixed chain of
    literal replaces per word); the oracle re-learns the same merges
    and re-applies them, so the gate certifies training AND encoding
    together."""
    from feast_hive_spark.operators.corpus import bpe_encode_stats as enc
    from feast_hive_spark.operators.corpus import bpe_merges

    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_merges(docs, "text", n_merges=_BPE_ROUNDS)
    return enc(docs, "doc_id", "text", merges)


# ---------------------------------------------------------------------
# Logistic-regression quality classifier (r6)
# ---------------------------------------------------------------------

_LOGREG_ITERS = 3


def _logreg_cte(iters: int = _LOGREG_ITERS) -> str:
    """Unrolled full-batch GD rounds mirroring
    operators/profile.py:logreg_train bit-for-bit: micro fixed-point
    features/weights, exact-integer z, micro-rounded sigmoid, exact
    HUGEINT gradient sums, floor-division update (lr = 1)."""
    feats = f"""lrf AS (
  SELECT CAST(1000000 AS BIGINT) AS x0,
         least({X.duck_token_count_ws('text')}, 100) * 10000 AS x1,
         CAST(round({X.duck_punct_ratio('text')} * 1000000) AS BIGINT) AS x2,
         CAST(round({X.duck_stopword_ratio('text')} * 1000000) AS BIGINT) AS x3,
         CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y
  FROM documents
),
lrw0 AS (SELECT CAST(0 AS HUGEINT) AS w0, CAST(0 AS HUGEINT) AS w1,
                CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS w3)"""
    parts = [feats]
    for t in range(1, iters + 1):
        z = "w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3"
        p = (
            "CAST(round(1000000 / (1.0 + exp(-(CAST("
            + z
            + " AS DOUBLE) / 1e12)))) AS BIGINT)"
        )
        gsums = ", ".join(
            f"SUM(CAST((p - y) * x{j} AS HUGEINT)) AS g{j}"
            for j in range(4)
        )
        parts.append(
            f"""lrg{t} AS (
  SELECT COUNT(*) AS n, {gsums}
  FROM (SELECT f.*, {p} AS p FROM lrf f, lrw{t-1} w)
)"""
        )
        upd = ", ".join(
            f"w.w{j} - CAST((g.g{j} - (((g.g{j} % (g.n * 1000000)) "
            f"+ (g.n * 1000000)) % (g.n * 1000000))) / (g.n * 1000000) "
            f"AS HUGEINT) AS w{j}"
            for j in range(4)
        )
        parts.append(f"lrw{t} AS (SELECT {upd} FROM lrw{t-1} w, lrg{t} g)")
    return ",\n".join(parts)


@register(
    "logreg_quality_weights",
    f"""
WITH {_logreg_cte()}
SELECT term, CAST(w AS BIGINT) AS weight_micro FROM (
  SELECT 'bias' AS term, w0 AS w FROM lrw{_LOGREG_ITERS}
  UNION ALL SELECT 'tok_frac', w1 FROM lrw{_LOGREG_ITERS}
  UNION ALL SELECT 'punct_ratio', w2 FROM lrw{_LOGREG_ITERS}
  UNION ALL SELECT 'stopword_ratio', w3 FROM lrw{_LOGREG_ITERS}
)
""",
)
def logreg_quality_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (full-batch GD, 3
    rounds, lr=1 in micro units): is-English from
    (token-count, punct-ratio, stopword-ratio) text features — the
    fasttext-style quality/language classifier shape every corpus
    pipeline trains. Per round: ONE gradient aggregate (map-side
    partials, 1-row exchange of d sums), d-integer driver update,
    weights re-enter as literals — one scan per round at any corpus
    size. The SQL twin unrolls all 3 rounds, so the hash gate
    certifies sigmoid rounding, exact-integer gradients, and the
    floor-division update (operators/profile.py:logreg_train)."""
    from feast_hive_spark.operators.profile import logreg_weights_df

    docs = read_table(spark, sf_dir, "documents")
    return logreg_weights_df(
        docs,
        [
            F.lit(1000000),
            F.least(X.token_count_ws("text"), F.lit(100)) * 10000,
            F.round(X.punct_ratio("text") * 1000000),
            F.round(X.stopword_ratio("text") * 1000000),
        ],
        ["bias", "tok_frac", "punct_ratio", "stopword_ratio"],
        (F.col("lang") == "en").cast("long"),
        iters=_LOGREG_ITERS,
    )


_KN_D = 0.75  # binary-exact discount shared by both engines


@register(
    "kneser_ney_nll_scores",
    f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tw FROM documents
), bg AS (
  SELECT doc_id, unnest(CASE WHEN len(tw) >= 2 THEN
    list_transform(range(1, len(tw)), i -> tw[i] || ' ' || tw[i+1])
    ELSE [] END) AS bg
  FROM w
), bgc AS (
  SELECT bg, COUNT(*) AS cab FROM bg GROUP BY bg
), typed AS (
  SELECT bg, cab, string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
  FROM bgc
), lft AS (
  SELECT a, SUM(cab) AS ca, COUNT(*) AS n1a FROM typed GROUP BY a
), cont AS (
  SELECT b, COUNT(*) AS n1b FROM typed GROUP BY b
), tt AS (SELECT COUNT(*) AS n1tot FROM typed),
scored AS (
  SELECT t.bg,
         CAST(round(-ln(greatest(CAST(cab AS DOUBLE) - {_KN_D}, 0.0) / ca
                        + ({_KN_D} * n1a / ca)
                          * (CAST(n1b AS DOUBLE) / n1tot))
                    * 1000000) AS BIGINT) AS nm
  FROM typed t JOIN lft ON t.a = lft.a JOIN cont ON t.b = cont.b
  CROSS JOIN tt
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(nm) AS DOUBLE) / COUNT(*) / 1000000, 4) AS avg_nll
FROM bg b JOIN scored s ON b.bg = s.bg
GROUP BY b.doc_id
""",
)
def kneser_ney_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (D=0.75): absolute
    discounting + continuation-count backoff — the
    quality/perplexity signal with the correct treatment of frequent-
    but-context-bound words. All statistics are vocabulary-sized
    aggregates; per-bigram NLL fixed to micro-nats vocab-side
    (operators/corpus.py:kneser_ney_nll_scores)."""
    docs = read_table(spark, sf_dir, "documents")
    return C.kneser_ney_nll_scores(docs, "doc_id", "text", discount=_KN_D)


@register(
    "js_divergence_top_terms",
    f"""
WITH tok AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en, unnest({X.duck_words('text')}) AS term
  FROM documents
),
cnt AS (
  SELECT term, SUM(en) AS ce, SUM(1 - en) AS cn
  FROM tok GROUP BY term
),
tot AS (SELECT SUM(ce) AS te, SUM(cn) AS tn FROM cnt),
js AS (
  SELECT term, ce, cn,
         CAST(ROUND((
           CASE WHEN ce > 0 THEN
             0.5 * (CAST(ce AS DOUBLE) / te)
             * ln((CAST(ce AS DOUBLE) / te)
                  / ((CAST(ce AS DOUBLE) / te + CAST(cn AS DOUBLE) / tn) / 2))
           ELSE 0 END
           +
           CASE WHEN cn > 0 THEN
             0.5 * (CAST(cn AS DOUBLE) / tn)
             * ln((CAST(cn AS DOUBLE) / tn)
                  / ((CAST(ce AS DOUBLE) / te + CAST(cn AS DOUBLE) / tn) / 2))
           ELSE 0 END) * 1000000000) AS BIGINT) AS js_nano
  FROM cnt CROSS JOIN tot
)
SELECT term, CAST(ce AS BIGINT) AS n_en, CAST(cn AS BIGINT) AS n_other,
       js_nano
FROM js ORDER BY js_nano DESC, term ASC LIMIT 20
""",
)
def js_divergence_top_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-term Jensen-Shannon divergence decomposition between the
    English and non-English unigram distributions, top 20 — the
    "which words make these corpora different" readout behind corpus
    drift and domain-mix dashboards (summing js_nano over ALL terms
    gives JS(P||Q) in nats). Counts are exact integers from one
    vocabulary-sized aggregate; each term's contribution is a pure
    function of four exact integers, nano-fixed at the row (no
    cross-term double sum), ranked by (js_nano, term) so top-20
    selection is integer-deterministic cross-engine. At 100 TB the
    shuffle is vocabulary-sized; totals ride a 1-row broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("en"),
        F.explode(X.words("text")).alias("term"),
    )
    # vocabulary table cached (r13, guide §1.3): cnt feeds the totals
    # scalar AND the per-term readout — uncached, the corpus tokenize
    # + aggregate ran twice per run (the LM-family idiom)
    cnt = tok.groupBy("term").agg(
        F.sum("en").alias("ce"), F.sum(1 - F.col("en")).alias("cn")
    ).cache()
    tot = cnt.agg(F.sum("ce").alias("te"), F.sum("cn").alias("tn"))
    j = cnt.crossJoin(F.broadcast(tot))
    p = F.col("ce").cast("double") / F.col("te")
    q = F.col("cn").cast("double") / F.col("tn")
    m = (p + q) / 2
    contrib = F.when(F.col("ce") > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cn") > 0, 0.5 * q * F.log(q / m)).otherwise(
        F.lit(0.0)
    )
    out = j.select(
        "term",
        F.col("ce").cast("long").alias("n_en"),
        F.col("cn").cast("long").alias("n_other"),
        F.round(contrib * 1000000000).cast("long").alias("js_nano"),
    )
    return out.orderBy(F.col("js_nano").desc(), F.col("term").asc()).limit(
        20
    )


# natural-log-of-2 as a shared double literal: repr() round-trips the
# exact IEEE double, so both engines divide by identical bits (the
# cross-engine float-literal rule — see the verify notes)
import math as _math

_LN2 = repr(_math.log(2.0))


@register(
    "char_entropy_by_lang",
    f"""
WITH ch AS (
  SELECT lang, unnest(string_split(text, '')) AS c FROM documents
), counts AS (
  SELECT lang, c, COUNT(*) AS n FROM ch WHERE c <> '' GROUP BY lang, c
), tot AS (
  SELECT lang, SUM(n) AS nn, COUNT(*) AS n_distinct FROM counts GROUP BY lang
), terms AS (
  SELECT counts.lang,
         CAST(ROUND(n * (ln(CAST(nn AS DOUBLE)) - ln(CAST(n AS DOUBLE)))
                    * 1000000) AS BIGINT) AS tmicro
  FROM counts JOIN tot ON counts.lang = tot.lang
)
SELECT t.lang,
       CAST(t.nn AS BIGINT) AS n_chars,
       CAST(t.n_distinct AS BIGINT) AS n_distinct_chars,
       ROUND(SUM(tmicro) / 1000000.0 / t.nn / {_LN2}, 6) AS entropy_bits
FROM terms JOIN tot t ON terms.lang = t.lang
GROUP BY t.lang, t.nn, t.n_distinct
""",
)
def char_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per language — the
    classic cheap signal separating natural text from boilerplate/
    base64/gibberish in corpus curation (and a per-language
    compression-ratio proxy). H = sum n_i (ln N - ln n_i) / (N ln 2)
    over per-language character counts: each term is micro-fixed to a
    BIGINT before the sum (order-independent, partial-agg safe;
    same pattern as the Hill estimator's nano-fixed logs), and ln 2
    is a shared repr() double literal so both engines divide by
    identical bits. Scale shape: the only corpus-sized work is the
    character explode into a (lang, char) count whose partial
    aggregation collapses map-side onto the tiny charset domain;
    everything after runs on (#langs x #charset) rows."""
    ensure_views(spark, sf_dir)
    # (lang, char) count table cached (r13, guide §1.3): Spark
    # inlines CTEs, so the all-SQL form re-ran the character-explode
    # scan under tot (twice) and terms — 3 corpus scans per run. The
    # arithmetic below is the identical SQL text per fragment.
    counts = spark.sql(
        """
        SELECT lang, c, count(*) AS n
        FROM (SELECT lang, explode(split(text, '')) AS c FROM documents)
        WHERE c <> '' GROUP BY lang, c
        """
    ).cache()
    tot = counts.groupBy("lang").agg(
        F.expr("sum(n) AS nn"), F.expr("count(*) AS n_distinct")
    )
    terms = counts.join(tot, "lang").select(
        "lang",
        F.expr(
            "cast(round(n * (ln(cast(nn AS DOUBLE)) - ln(cast(n AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("tmicro"),
    )
    return (
        terms.join(tot, "lang")
        .groupBy("lang", "nn", "n_distinct")
        .agg(
            F.expr(
                f"round(sum(tmicro) / 1000000.0 / nn / {_LN2}, 6)"
            ).alias("entropy_bits")
        )
        .select(
            "lang",
            F.expr("cast(nn AS BIGINT)").alias("n_chars"),
            F.expr("cast(n_distinct AS BIGINT)").alias("n_distinct_chars"),
            "entropy_bits",
        )
    )


_MIX_ALPHA = 0.3  # XLM-R's exponential-smoothing temperature


@register(
    "lang_temperature_mixture",
    f"""
WITH per AS (
  SELECT lang, CAST(SUM({X.duck_token_count_ws('text')}) AS BIGINT) AS n_tok
  FROM documents GROUP BY lang
), p AS (
  SELECT lang, n_tok, n_tok * 1.0 / SUM(n_tok) OVER () AS pf FROM per
), q AS (
  SELECT lang, n_tok, pf,
         pow(pf, {_MIX_ALPHA!r}) / SUM(pow(pf, {_MIX_ALPHA!r})) OVER () AS qf
  FROM p
)
SELECT lang, n_tok,
       ROUND(pf, 6) AS p_frac,
       ROUND(qf, 6) AS q_frac,
       ROUND(qf / pf, 4) AS upsample
FROM q
""",
)
def lang_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed language sampling weights (the
    multilingual-training mixture: q_i proportional to p_i^alpha,
    alpha=0.3 per XLM-R's exponential smoothing) — the per-language
    upsample factors a training pipeline feeds its sampler so
    low-resource languages are seen more than their token share.

    Plan shape: ONE scan-wide aggregate (per-lang token mass — the
    only fact-sized work), then two stacked whole-partition window
    sums over the #languages-row table (Catalyst satisfies both with
    a single tiny ENSURE_REQUIREMENTS exchange). Safe at any corpus
    size: everything past the first aggregate is vocabulary-sized."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select("lang", X.token_count_ws("text").alias("__t"))
        .groupBy("lang")
        .agg(F.sum("__t").cast("long").alias("n_tok"))
    )
    w = Window.partitionBy()
    p = per.select(
        "lang", "n_tok",
        (F.col("n_tok") / F.sum("n_tok").over(w)).alias("__pf"),
    )
    q = p.select(
        "lang", "n_tok", "__pf",
        (
            F.pow(F.col("__pf"), F.lit(_MIX_ALPHA))
            / F.sum(F.pow(F.col("__pf"), F.lit(_MIX_ALPHA))).over(w)
        ).alias("__qf"),
    )
    return q.select(
        "lang",
        "n_tok",
        F.round("__pf", 6).alias("p_frac"),
        F.round("__qf", 6).alias("q_frac"),
        F.round(F.col("__qf") / F.col("__pf"), 4).alias("upsample"),
    )


_UNIMAX_CAP = 2  # max epochs any language may repeat
# budget = floor(1.5 * total corpus tokens): between 1x (every lang
# uniform) and cap*total (every lang capped), so the fixture
# exercises BOTH branches of the water-filling (pinned by the
# vacuity test)


@register(
    "unimax_lang_budgets",
    f"""
WITH per AS (
  SELECT lang, CAST(SUM({{tc}}) AS BIGINT) AS n_tok
  FROM documents GROUP BY lang
), g AS (
  SELECT lang, n_tok,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tok, lang) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS l,
         CAST(COALESCE(SUM(n_tok) OVER (
           ORDER BY n_tok, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_prev,
         CAST((3 * SUM(n_tok) OVER ()) // 2 AS BIGINT) AS b
  FROM per
), c AS (
  SELECT *,
         CASE WHEN {_UNIMAX_CAP} * n_tok * (l - i + 1)
                   <= b - {_UNIMAX_CAP} * cum_prev
              THEN 1 ELSE 0 END AS cond
  FROM g
), cp AS (
  SELECT *,
         MIN(cond) OVER (ORDER BY n_tok, lang
                         ROWS UNBOUNDED PRECEDING) AS capped
  FROM c
), k AS (
  SELECT *,
         CAST(SUM(capped) OVER () AS BIGINT) AS n_capped,
         CAST(COALESCE(SUM(CASE WHEN capped = 1 THEN n_tok END)
                       OVER (), 0) AS BIGINT) AS capsum
  FROM cp
)
SELECT lang, n_tok,
       capped = 1 AS capped,
       CAST(CASE WHEN capped = 1 THEN {_UNIMAX_CAP} * n_tok
                 ELSE (b - {_UNIMAX_CAP} * capsum) // (l - n_capped)
            END AS BIGINT) AS alloc_tokens,
       CAST(ROUND(1e4 * (CASE WHEN capped = 1 THEN {_UNIMAX_CAP} * n_tok
                 ELSE (b - {_UNIMAX_CAP} * capsum) // (l - n_capped) END)
            / n_tok) AS BIGINT) AS epochs_e4
FROM k ORDER BY n_tok, lang
""".format(tc=X.duck_token_count_ws("text")),
)
def unimax_lang_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling budgets (Chung et al., ICLR 2023):
    instead of temperature-smoothing language probabilities
    (lang_temperature_mixture), allocate a total token budget by
    water-filling with a hard per-language EPOCH CAP — ascending by
    corpus size, a language is CAPPED at cap*n_tok when that fits
    within its equal share of the remaining budget, otherwise the
    remaining languages split the remainder uniformly. This bounds
    low-resource repetition (the overfitting axis temperature
    sampling leaves unbounded) while giving high-resource languages
    everything left. The crossover test is computed MULTIPLICATION-
    ONLY (cap*n*(remaining) <= remaining_budget), allocations are
    integer floor-division — bit-exact in both engines, no float
    anywhere except the reported epochs_e4. One scan-wide token
    aggregate (the only fact-sized work), then #languages-row
    windows; prefix-capping is enforced with a running MIN so the
    water-filling invariant holds even on adversarial size ties.
    Budget = floor(1.5 * corpus), cap = 2 epochs: both branches
    exercised on the fixture (vacuity-pinned)."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select("lang", X.token_count_ws("text").alias("__t"))
        .groupBy("lang")
        .agg(F.sum("__t").cast("long").alias("n_tok"))
    )
    cap = _UNIMAX_CAP
    wo = Window.orderBy("n_tok", "lang")
    wall = Window.partitionBy()
    g = per.select(
        "lang",
        "n_tok",
        F.row_number().over(wo).cast("long").alias("i"),
        F.count(F.lit(1)).over(wall).cast("long").alias("l"),
        F.coalesce(
            F.sum("n_tok").over(
                wo.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cum_prev"),
        ((F.lit(3) * F.sum("n_tok").over(wall)) / 2)
        .cast("long")
        .alias("b"),
    )
    cond = F.when(
        F.lit(cap) * F.col("n_tok") * (F.col("l") - F.col("i") + 1)
        <= F.col("b") - F.lit(cap) * F.col("cum_prev"),
        F.lit(1),
    ).otherwise(F.lit(0))
    cp = g.withColumn(
        "capped",
        F.min(cond).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    k = cp.select(
        "*",
        F.sum("capped").over(wall).cast("long").alias("n_capped"),
        F.coalesce(
            F.sum(F.when(F.col("capped") == 1, F.col("n_tok"))).over(wall),
            F.lit(0),
        )
        .cast("long")
        .alias("capsum"),
    )
    alloc = F.when(
        F.col("capped") == 1, F.lit(cap) * F.col("n_tok")
    ).otherwise(
        F.floor(
            (F.col("b") - F.lit(cap) * F.col("capsum"))
            / (F.col("l") - F.col("n_capped"))
        )
    )
    return k.select(
        "lang",
        "n_tok",
        (F.col("capped") == 1).alias("capped"),
        alloc.cast("long").alias("alloc_tokens"),
        F.round(F.lit(1e4) * alloc / F.col("n_tok"))
        .cast("long")
        .alias("epochs_e4"),
    ).orderBy("n_tok", "lang")
