"""Extension-operator registry entries (SURVEY §7): dedup families,
similarity search, text analysis — each with a DuckDB oracle twin
generated from the SAME constants as the Spark implementation
(functions/text.py, functions/vector.py).

Importing this module populates feast_hive_spark.registry.REGISTRY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feast_hive_spark.functions import text as X
from feast_hive_spark.functions import vector as V
from feast_hive_spark.operators import dedup as D
from feast_hive_spark.operators import simsearch as S
from feast_hive_spark.plans.bcast import gated_broadcast
from feast_hive_spark.plans.local import sorted_readout as _sorted_readout
from feast_hive_spark.registry import register
from feast_hive_spark.sources.source import QuerySource
from feast_hive_spark.sources.tables import ensure_views, read_table, register_views

# =====================================================================
# source/agg coverage (SURVEY §2.1 S2, §2.4 A2)
# =====================================================================


@register(
    "query_source_revenue_by_nation",
    """
SELECT n.n_name,
       ROUND(SUM(o.o_totalprice), 2) AS total_revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def query_source_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 query-as-source: an arbitrary-SELECT feature source scanned
    through the QuerySource abstraction (hive_source.py:239-247)."""
    register_views(spark, sf_dir)
    src = QuerySource(
        """
        SELECT n.n_name,
               ROUND(SUM(o.o_totalprice), 2) AS total_revenue,
               COUNT(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """,
        name="revenue_by_nation",
    )
    return src.to_df(spark)


@register(
    "timestamp_bounds",
    """
SELECT CAST(min(ts) AS TIMESTAMP) AS min_ts,
       CAST(max(ts) AS TIMESTAMP) AS max_ts,
       COUNT(*) AS n_rows
FROM events
""",
)
def timestamp_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 scalar min/max bounds aggregate (hive.py:594-598) — the same
    1-row aggregate the PIT planner pushes down as literal filters."""
    ev = read_table(spark, sf_dir, "events")
    return ev.agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# =====================================================================
# dedup operators (SURVEY §7)
# =====================================================================


@register(
    "dedup_exact",
    """
SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "doc_id", "text")


@register(
    "dedup_exact_stats",
    """
SELECT COUNT(*) AS n_total,
       COUNT(DISTINCT md5(text)) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_rows
FROM documents
""",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup_stats(docs, "text")


_DUCK_JACCARD = (
    "ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) "
    "/ greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6)"
)


@register(
    "dedup_ngram_jaccard",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.near_dup_member_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_jaccard_prefix",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
  FROM s a JOIN s b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
""",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered (PPJoin-style) exact Jaccard: indexes only each
    doc's rarest |d|-ceil(t|d|)+1 shingles — provably no candidate
    above threshold is lost, hot stop-phrase shingles never enter the
    self-join. Same all-pairs oracle as dedup_ngram_jaccard because
    the results are exactly identical (pure candidate pruning)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.prefix_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


_DUCK_SPAN_K = 8
# shared oracle prefix: exact-collapse to distinct texts ->
# positional k-gram TEXT anchors with class multiplicity ->
# duplicated anchor occurrences. The twin groups on the gram TEXT
# directly (manifestly exact, zero hash assumption), which computes
# the identical quantity as the engine's two-stage plan (xxhash64
# pre-filter + text-equality verification,
# operators/dedup._dup_anchor_positions_build): the pre-filter only
# ever passes supersets, and the verification count restricted to
# candidates equals the global text count because all positions of a
# gram share its hash.
_DUCK_SPANS_PREFIX = f"""
WITH tok AS (
  SELECT doc_id, md5(text) AS th,
         string_split_regex(lower(text), '\\s+') AS w
  FROM documents
),
cls AS (
  SELECT th, MIN(doc_id) AS rep, COUNT(*) AS ksize FROM tok GROUP BY th
),
rep AS (
  SELECT c.rep AS rid, t.w, c.ksize
  FROM tok t JOIN cls c ON t.doc_id = c.rep
),
anch AS (
  SELECT rid, ksize, i - 1 AS pos,
         ({" || ' ' || ".join(f"w[i+{j}]" for j in range(_DUCK_SPAN_K))}) AS g
  FROM rep, UNNEST(range(1, greatest(len(w) - {_DUCK_SPAN_K - 2}, 1))) AS u(i)
),
dupg AS (
  SELECT g FROM (SELECT g, SUM(ksize) AS c FROM anch GROUP BY g)
  WHERE c >= 2
),
dpos_h AS (
  SELECT a.rid, a.pos, a.g FROM anch a WHERE a.g IN (SELECT g FROM dupg)
)
"""

# span-table suffix: gaps-and-islands run merge
_DUCK_SPANS_CTE = _DUCK_SPANS_PREFIX + f""",
isl AS (
  SELECT rid, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY rid ORDER BY pos) AS g
  FROM dpos_h
),
spans AS (
  SELECT rid, MIN(pos) AS span_start,
         MAX(pos) - MIN(pos) + {_DUCK_SPAN_K} AS span_len
  FROM isl GROUP BY rid, g
)
"""


@register(
    "dedup_duplicate_spans",
    _DUCK_SPANS_CTE + """
SELECT t.doc_id, CAST(s.span_start AS BIGINT) AS span_start,
       CAST(s.span_len AS BIGINT) AS span_len
FROM spans s JOIN cls c ON s.rid = c.rep JOIN tok t ON t.th = c.th
""",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplicate spans (the Lee et al. 2022
    suffix-array family, k-gram-anchor formulation): maximal token
    spans of length >= 8 occurring >= 2 times in the corpus
    (within-doc repeats included), per document occurrence. See
    operators/dedup.duplicate_spans for the distributed shape
    (exact-collapse pre-pass, anchors linear in distinct-text token
    volume, per-doc islands window, membership fan-out)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.duplicate_spans(docs, "doc_id", "text", k=_DUCK_SPAN_K)


@register(
    "dedup_duplicate_span_stats",
    _DUCK_SPANS_CTE + """
, per AS (
  SELECT rid, COUNT(*) AS nsp, SUM(span_len) AS tok, MAX(span_len) AS mx
  FROM spans GROUP BY rid
)
SELECT COALESCE(CAST(SUM(c.ksize) AS BIGINT), 0) AS n_docs_with_spans,
       COALESCE(CAST(SUM(p.nsp * c.ksize) AS BIGINT), 0) AS n_spans,
       COALESCE(CAST(SUM(p.tok * c.ksize) AS BIGINT), 0) AS dup_tokens,
       COALESCE(CAST(MAX(p.mx) AS BIGINT), 0) AS max_span_len
FROM per p JOIN cls c ON p.rid = c.rep
""",
)
def dedup_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed 1-row stats twin of dedup_duplicate_spans — the
    scale-safe report when the member-level span fan-out itself is
    not wanted (the fuzzy_part_name_pairs lesson: expansion tables
    are output-sized by declared semantics; the stats twin is the
    bounded alternative)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.duplicate_span_stats(docs, "doc_id", "text", k=_DUCK_SPAN_K)


@register(
    "dedup_span_strip",
    _DUCK_SPANS_PREFIX + f""",
daf AS (
  SELECT d.rid, d.pos, d.g,
         (c2.crid = d.rid AND c2.cpos = d.pos) AS is_first
  FROM dpos_h d
  JOIN (
    SELECT d2.g, d2.rid AS crid, MIN(d2.pos) AS cpos
    FROM dpos_h d2
    JOIN (SELECT g, MIN(rid) AS crid FROM dpos_h GROUP BY g) c1
      ON d2.g = c1.g AND d2.rid = c1.crid
    GROUP BY d2.g, d2.rid
  ) c2 ON d.g = c2.g
),
cov AS (
  SELECT rid, is_first, UNNEST(range(pos, pos + {_DUCK_SPAN_K})) AS tp
  FROM daf
),
firstcov AS (SELECT DISTINCT rid, tp FROM cov WHERE is_first),
allcov AS (SELECT DISTINCT rid, tp FROM cov),
reprm AS (
  SELECT a.rid, a.tp FROM allcov a
  ANTI JOIN firstcov f ON a.rid = f.rid AND a.tp = f.tp
),
rmrep AS (SELECT rid, list(tp) AS rm FROM reprm GROUP BY rid),
rmall AS (SELECT rid, list(tp) AS rm FROM allcov GROUP BY rid)
SELECT t.doc_id,
       coalesce(array_to_string(
         list_filter(r.w, (x, i) -> NOT list_contains(
           CASE WHEN t.doc_id = c.rep
                THEN coalesce(rr.rm, CAST([] AS BIGINT[]))
                ELSE coalesce(ra.rm, CAST([] AS BIGINT[])) END, i - 1)),
         ' '), '') AS text_clean,
       CAST(len(r.w) AS BIGINT) AS n_tokens,
       CAST(len(CASE WHEN t.doc_id = c.rep
                     THEN coalesce(rr.rm, CAST([] AS BIGINT[]))
                     ELSE coalesce(ra.rm, CAST([] AS BIGINT[])) END)
            AS BIGINT) AS n_removed
FROM tok t
JOIN cls c ON t.th = c.th
JOIN rep r ON r.rid = c.rep
LEFT JOIN rmrep rr ON rr.rid = c.rep
LEFT JOIN rmall ra ON ra.rid = c.rep
""",
)
def dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. transformation itself: rewrite every document
    with duplicated k-gram regions collapsed to their first
    (doc_id, pos) occurrence — exact-dup members clean to empty, the
    canonical holder keeps its copy intact even where kept and
    dropped k-grams overlap. Full cleaned text is oracle-compared
    (see operators/dedup.strip_duplicate_spans)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.strip_duplicate_spans(docs, "doc_id", "text", k=_DUCK_SPAN_K)


@register(
    "stream_span_flags",
    f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
  FROM documents
),
a_anch AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         ({" || ' ' || ".join(f"w[i+{j}]" for j in range(_DUCK_SPAN_K))}) AS g
  FROM tok, UNNEST(range(1, greatest(len(w) - {_DUCK_SPAN_K - 2}, 1))) AS u(i)
  WHERE doc_id % 2 = 1
),
ix AS (
  SELECT DISTINCT
         ({" || ' ' || ".join(f"w[i+{j}]" for j in range(_DUCK_SPAN_K))}) AS g
  FROM tok, UNNEST(range(1, greatest(len(w) - {_DUCK_SPAN_K - 2}, 1))) AS u(i)
  WHERE doc_id % 2 = 0
)
SELECT doc_id, pos FROM a_anch WHERE g IN (SELECT g FROM ix)
""",
)
def stream_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming duplicate-span flagging: odd-id documents
    arrive as a file-source stream and are probed against the static
    even-id corpus's k-gram anchor index
    (streaming/events.stream_duplicate_anchor_flags — stream-static
    left semi join, per micro-batch, zero streaming state), gated
    against a pure-SQL DuckDB twin of the same semantics. A shared
    span of length L >= k appears as its L-k+1 consecutive start
    positions. Memoized per documents plan (a real deployment runs
    the stream once, continuously)."""
    from feast_hive_spark.plans.memo import plan_memo
    from feast_hive_spark.streaming import events as SE

    def run() -> DataFrame:
        stream = SE.read_document_stream(spark, sf_dir).filter(
            F.col("doc_id") % 2 == 1
        )
        index = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 2 == 0
        )
        res = SE.stream_duplicate_anchor_flags(
            stream, index, "doc_id", "text", k=_DUCK_SPAN_K
        )
        SE.run_to_memory(res, "__stream_span_flags", output_mode="append")
        return spark.table("__stream_span_flags")

    return plan_memo(
        spark,
        read_table(spark, sf_dir, "documents"),
        ("stream_span_flags",),
        run,
    )


def _duck_minhash_banded_sql() -> str:
    rows_per_band = len(X.MINHASH_COEFS) // 4
    band_selects = []
    for bi in range(4):
        lo = bi * rows_per_band
        parts = ", ".join(
            f"CAST(sg[{lo + j + 1}] AS VARCHAR)" for j in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5(concat_ws(',', {parts})) AS bkey FROM sig"
        )
    return " UNION ALL ".join(band_selects)


@register(
    "dedup_minhash_lsh",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), sig AS (
  SELECT doc_id, sh, {X.duck_minhash_signature('sh')} AS sg FROM s
), banded AS (
  {_duck_minhash_banded_sql()}
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey
  WHERE x.doc_id < y.doc_id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT c.id_a, c.id_b, {_DUCK_JACCARD} AS jaccard
  FROM cand c JOIN s a ON a.doc_id = c.id_a JOIN s b ON b.doc_id = c.id_b
) WHERE jaccard >= 0.5
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, bands=4, threshold=0.5)


def _duck_minhash_matches() -> str:
    """#signature positions where consecutive-pair signatures agree
    (DuckDB lists are 1-indexed)."""
    k = len(X.MINHASH_COEFS)
    return " + ".join(
        f"CASE WHEN sg_a[{i + 1}] = sg_b[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(k)
    )


@register(
    "minhash_estimate_audit",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), sig AS (
  SELECT doc_id, sh, {X.duck_minhash_signature('sh')} AS sg FROM s
), pairs AS (
  SELECT a.sh AS sh_a, a.sg AS sg_a, b.sh AS sh_b, b.sg AS sg_b
  FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
), scored AS (
  SELECT CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS i,
         CAST(greatest(len(list_distinct(list_concat(sh_a, sh_b))), 1) AS BIGINT) AS u,
         CAST({_duck_minhash_matches()} AS BIGINT) AS m
  FROM pairs
), e AS (
  SELECT (2000000 * i + u) // (2 * u) AS exact_micro,
         m * {1000000 // len(X.MINHASH_COEFS)} AS est_micro
  FROM scored
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(est_micro - exact_micro) AS BIGINT) AS min_err_micro,
       CAST(MAX(est_micro - exact_micro) AS BIGINT) AS max_err_micro,
       CAST(SUM(ABS(est_micro - exact_micro)) AS BIGINT) AS sum_abs_err_micro,
       CAST(SUM(CASE WHEN ABS(est_micro - exact_micro) > 500000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_over_half
FROM e
""",
)
def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash probabilistic-contract audit (the Jaccard twin of
    cms_error_bound_audit): over the UNBIASED consecutive-doc-id probe
    pairs (never the LSH candidates — band collision conditions the
    estimate upward), compare the 16-permutation MinHash estimate
    ``matches/16`` against exact shingle Jaccard in integer micro
    units. Hoeffding gives ``P[|est - J| > 0.5] <= 2 exp(-2*16*0.25)
    ~ 7e-4`` per pair, so ``n_over_half`` is expected 0 and the
    min/max/sum error moments are hash-certified exactly — the DuckDB
    twin recomputes the identical signatures and integer rounding, so
    any drift in the shingle hashing, permutation constants, or
    estimate arithmetic mismatches.

    Scale shape: the probe-pair join is an equi-join on doc_id+1 (one
    key-shuffle, linear), the signature a map-side array fold — no
    all-pairs anything."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", X.tokens_array("text").alias("__tk")
    ).select(
        "doc_id", X.shingle_hashes_from(F.col("__tk"), 3).alias("sh")
    )
    # signature table cached (r13, guide §1.3): sig feeds BOTH sides
    # of the consecutive-id self-join — uncached, the tokenize +
    # shingle-hash + 16-permutation minhash fold ran twice per run
    sig = sh.select(
        "doc_id", "sh", X.minhash_signature(F.col("sh")).alias("sg")
    ).cache()
    a = sig.select(
        F.col("doc_id").alias("__k"),
        F.col("sh").alias("sh_a"),
        F.col("sg").alias("sg_a"),
    )
    b = sig.select(
        (F.col("doc_id") - 1).alias("__k"),
        F.col("sh").alias("sh_b"),
        F.col("sg").alias("sg_b"),
    )
    k = len(X.MINHASH_COEFS)
    matches = sum(
        [
            F.when(F.col("sg_a")[i] == F.col("sg_b")[i], 1).otherwise(0)
            for i in range(1, k)
        ],
        F.when(F.col("sg_a")[0] == F.col("sg_b")[0], 1).otherwise(0),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = F.greatest(
        F.size(F.array_union("sh_a", "sh_b")), F.lit(1)
    ).cast("long")
    scored = (
        a.join(b, "__k")
        .select(
            inter.alias("i"), union.alias("u"), matches.cast("long").alias("m")
        )
        .select(
            F.expr("(2000000 * i + u) div (2 * u)").alias("exact_micro"),
            (F.col("m") * F.lit(1000000 // k)).alias("est_micro"),
        )
    )
    err = F.col("est_micro") - F.col("exact_micro")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min(err).cast("long").alias("min_err_micro"),
        F.max(err).cast("long").alias("max_err_micro"),
        F.sum(F.abs(err)).cast("long").alias("sum_abs_err_micro"),
        F.sum(
            F.when(F.abs(err) > 500000, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_over_half"),
    )


@register(
    "dedup_simhash",
    f"""
WITH fp AS (
  SELECT doc_id, {X.duck_simhash('text')} AS f FROM documents
), banded AS (
  SELECT doc_id, b AS band, (f >> (12 * b)) % 4096 AS bv
  FROM fp, range(0, 4) r(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bv = y.bv
  WHERE x.doc_id < y.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT c.id_a, c.id_b, CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
  FROM cand c JOIN fp a ON a.doc_id = c.id_a JOIN fp b ON b.doc_id = c.id_b
) WHERE hamming <= 3
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    out = D.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


@register(
    "dedup_embedding_cosine",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({V.duck_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.45
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine pairs via the distributed block-pair join (default
    strategy) — no driver collect, no full-matrix broadcast; the plan
    is bounded by cluster FLOPs, not a single node."""
    emb = read_table(spark, sf_dir, "embeddings")
    return D.embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.45)


def _lsh_cosine_oracle(
    threshold: float = 0.45, n_planes: int = 4, n_tables: int = 12, dim: int = 64
) -> str:
    """DuckDB twin of lsh_cosine_pairs: same md5-derived hyperplanes,
    same banding, same exact verify — the approximate operator is
    deterministic, so even its recall gaps reproduce bit-for-bit."""
    per_table = [
        f"SELECT vec_id, {t} AS t, "
        f"{V.duck_sign_bucket('embedding', V.hyperplanes(n_planes, dim, seed=f't{t}'))} AS b "
        "FROM e"
        for t in range(n_tables)
    ]
    union = "\n  UNION ALL ".join(per_table)
    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
sg AS ({union}),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM sg x JOIN sg y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b,
         ROUND({V.duck_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
  FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
) WHERE cosine >= {threshold}
"""


@register("dedup_embedding_cosine_lsh", _lsh_cosine_oracle())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-dup mining — the sub-quadratic 100 TB
    path — hash-gated against a full SQL twin of the bucketing scheme
    (bucket self-join candidates, exact cosine verify)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return D.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.45, strategy="lsh"
    )


# =====================================================================
# similarity search
# =====================================================================


@register(
    "ann_cosine_topk",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND({V.duck_cosine('c.embedding', 'q.qv')}, 6) AS cosine
  FROM q JOIN e c ON c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 8 vectors."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding", k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ivf_oracle(n_lists: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """DuckDB twin of ivf_topk over the md5-ordered seed quantizer
    (iters=0): seed selection, argmax assignment, n_probe probing and
    exact rerank are all deterministic, so the approximate index is
    reproducible in SQL. (The Lloyd-refined build stays available via
    ivf_build_centroids and is recall-tested in pytest — float partial
    sums across engines make *it* impractical to twin, the flat seed
    quantizer is the SQL-expressible member of the family.)"""
    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         embedding AS cv
  FROM e
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {n_lists}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT c.vec_id, ct.cid,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
               ORDER BY {V.duck_cosine('c.embedding', 'ct.cv')} DESC, ct.cid) AS r
    FROM e c CROSS JOIN cent ct
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 8),
qprobe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, ct.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY {V.duck_cosine('q.qv', 'ct.cv')} DESC, ct.cid) AS r
    FROM q CROSS JOIN cent ct
  ) WHERE r <= {n_probe}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND({V.duck_cosine('c.embedding', 'q.qv')}, 6) AS cosine
  FROM q
  JOIN qprobe p ON p.query_id = q.query_id
  JOIN assign a ON a.cid = p.cid
  JOIN e c ON c.vec_id = a.vec_id AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@register("ann_ivf_topk", _ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed ANN, hash-gated end-to-end: the gated entry uses the
    deterministic md5-ordered seed quantizer (iters=0) so the whole
    index - seeds, list assignment, probing, rerank - has an exact SQL
    twin. The distributed-Lloyd build (iters>0) is the production
    refinement path, recall-tested in tests/test_simsearch.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = S.ivf_build_centroids(
        emb, "vec_id", "embedding", n_lists=16, iters=0
    )
    out = S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        k=5,
        n_lists=16,
        n_probe=4,
        centroids=centroids,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_topk_oracle(
    n_planes: int = 4, n_tables: int = 12, dim: int = 64, k: int = 5
) -> str:
    """DuckDB twin of lsh_topk: identical md5-derived hyperplane
    buckets, candidates share >=1 table bucket, exact cosine rerank."""
    per_table = [
        f"SELECT vec_id, {t} AS t, "
        f"{V.duck_sign_bucket('embedding', V.hyperplanes(n_planes, dim, seed=f't{t}'))} AS b "
        "FROM e"
        for t in range(n_tables)
    ]
    union = "\n  UNION ALL ".join(per_table)
    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
sg AS ({union}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
  FROM sg qs JOIN sg cs ON qs.t = cs.t AND qs.b = cs.b
                       AND qs.vec_id <> cs.vec_id
  WHERE qs.vec_id < 8
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND({V.duck_cosine('n.embedding', 'q.qv')}, 6) AS cosine
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@register("ann_lsh_topk", _lsh_topk_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (the 100 TB path), hash-gated against a
    full SQL twin of the bucket scheme - deterministic hyperplanes make
    even the recall gaps engine-reproducible; recall itself is tested
    against brute force in tests/test_simsearch.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        k=5,
        n_planes=4,
        n_tables=12,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_multiprobe_oracle(
    n_planes: int = 4, n_tables: int = 6, dim: int = 64, k: int = 5
) -> str:
    """DuckDB twin of lsh_topk(probe_bits=1): the query side probes
    its own bucket plus every 1-bit-flipped bucket per table (xor
    against each plane bit); candidate side is the plain bucketing.
    Same md5-derived hyperplanes, exact cosine rerank."""
    per_table = [
        f"SELECT vec_id, {t} AS t, "
        f"{V.duck_sign_bucket('embedding', V.hyperplanes(n_planes, dim, seed=f't{t}'))} AS b "
        "FROM e"
        for t in range(n_tables)
    ]
    union = "\n  UNION ALL ".join(per_table)
    probe_masks = ", ".join(str(m) for m in [0] + [1 << p for p in range(n_planes)])
    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
sg AS ({union}),
qp AS (
  SELECT vec_id, t, xor(b, m) AS b
  FROM sg, UNNEST([{probe_masks}]) AS u(m)
  WHERE vec_id < 8
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 8),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
  FROM qp qs JOIN sg cs ON qs.t = cs.t AND qs.b = cs.b
                       AND qs.vec_id <> cs.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND({V.duck_cosine('n.embedding', 'q.qv')}, 6) AS cosine
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@register("ann_lsh_multiprobe_topk", _lsh_multiprobe_oracle())
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe sign-LSH ANN (Lv et al. 2007): HALF the hash tables
    of ann_lsh_topk (6 vs 12), each probed at its own bucket plus
    every 1-bit neighbor — near-misses that landed one sign-flip away
    are recovered by membership tests instead of more hashing, so the
    bucketing matmul and table storage halve while recall stays in
    the same band (measured in ann_multiprobe_recall_report)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        k=5,
        n_planes=4,
        n_tables=6,
        probe_bits=1,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _multiprobe_recall_oracle() -> str:
    """Recall@5 of the half-table multiprobe index vs exact brute
    force — composed from the two validated twins, the
    ann_recall_report pattern."""
    from feast_hive_spark.registry import REGISTRY

    bf_sql = REGISTRY["ann_cosine_topk"][1]
    mp_sql = REGISTRY["ann_lsh_multiprobe_topk"][1]
    return f"""
WITH bf AS (SELECT * FROM ({bf_sql}) t1),
mp AS (SELECT * FROM ({mp_sql}) t2),
m AS (
  SELECT bf.query_id, COUNT(*) AS n_match
  FROM bf JOIN mp USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT q.query_id,
       CAST(COALESCE(n_match, 0) AS BIGINT) AS n_match,
       CAST(COALESCE(n_match, 0) * 2000 AS BIGINT) AS recall_bp
FROM (SELECT DISTINCT query_id FROM bf) q
LEFT JOIN m USING (query_id)
"""


@register("ann_multiprobe_recall_report", _multiprobe_recall_oracle())
def ann_multiprobe_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 6-table 1-bit-multiprobe index against exact
    brute force, per query — read next to ann_recall_report (the
    12-table single-probe index) to see the tables-vs-probes trade
    measured; deterministic hyperplanes make the gaps
    engine-reproducible."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    # cached (r13, guide §1.3): bf (8×5 rows) feeds the match join AND
    # the distinct query spine — uncached, the brute-force matmul
    # kernel executed twice per run
    bf = S.brute_force_topk(emb, q, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    ).cache()
    mp = S.lsh_topk(
        emb, q, "vec_id", "embedding", k=5, n_planes=4, n_tables=6,
        probe_bits=1,
    ).select("query_id", "neighbor_id")
    m = bf.join(mp, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_match")
    )
    return (
        bf.select("query_id")
        .distinct()
        .join(m, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_match"), F.lit(0)).alias("n_match"),
            (F.coalesce(F.col("n_match"), F.lit(0)) * 2000).alias(
                "recall_bp"
            ),
        )
    )


def _ann_recall_oracle() -> str:
    """Composes the two already-validated ANN twins (exact brute
    force + the full sign-LSH bucket scheme) and computes recall@5
    between them — measuring the approximation is itself an
    oracle-gated query."""
    from feast_hive_spark.registry import REGISTRY

    bf_sql = REGISTRY["ann_cosine_topk"][1]
    lsh_sql = REGISTRY["ann_lsh_topk"][1]
    return f"""
WITH bf AS (SELECT * FROM ({bf_sql}) t1),
lsh AS (SELECT * FROM ({lsh_sql}) t2),
m AS (
  SELECT bf.query_id, COUNT(*) AS n_match
  FROM bf JOIN lsh USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT q.query_id,
       CAST(COALESCE(n_match, 0) AS BIGINT) AS n_match,
       CAST(COALESCE(n_match, 0) * 2000 AS BIGINT) AS recall_bp
FROM (SELECT DISTINCT query_id FROM bf) q
LEFT JOIN m USING (query_id)
"""


@register("ann_recall_report", _ann_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sign-LSH index against exact brute force, per
    query — the measure-your-approximation query every ANN deployment
    needs. Deterministic hyperplanes make the recall gaps themselves
    engine-reproducible, so the DuckDB twin (the two validated ANN
    twins composed) hash-matches the report exactly."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    # cached (r13, guide §1.3): bf (8×5 rows) feeds the match join AND
    # the distinct query spine — uncached, the brute-force matmul
    # kernel executed twice per run
    bf = S.brute_force_topk(emb, q, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    ).cache()
    ls = S.lsh_topk(
        emb, q, "vec_id", "embedding", k=5, n_planes=4, n_tables=12
    ).select("query_id", "neighbor_id")
    m = bf.join(ls, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_match")
    )
    return (
        bf.select("query_id")
        .distinct()
        .join(m, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_match"), F.lit(0)).alias("n_match"),
            (F.coalesce(F.col("n_match"), F.lit(0)) * 2000).alias(
                "recall_bp"
            ),
        )
    )


# =====================================================================
# multimodal (binary-column plumbing; decode stays stubbed)
# =====================================================================


@register(
    "multimodal_metadata",
    """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '\\x89\\x50\\x4E\\x47\\x0D\\x0A\\x1A\\x0A'::BLOB || encode(text)
              WHEN doc_id % 3 = 1
              THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB || encode(text)
              ELSE encode(text) END AS payload
  FROM documents
)
SELECT doc_id,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'image/jpeg'
            ELSE 'application/octet-stream' END AS media_type
FROM media
""",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns: documents wrapped in synthetic PNG/JPEG
    magic headers by doc_id, run through the JVM-side metadata
    operator (size, content md5, magic-byte type sniffing) — the
    oracle reconstructs identical blobs and the sniffed types must
    round-trip. (content_md5 is asserted against a hashlib oracle in
    tests/test_multimodal.py — DuckDB 1.0 cannot hash BLOBs.) The
    decode step stays stubbed (multimodal.py); the column plumbing is
    what is gated here."""
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents")
    enc = F.encode(F.col("text"), "utf-8").cast("binary")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), enc))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit(b"\xff\xd8\xff\xe0"), enc))
        .otherwise(enc)
    )
    media = docs.select("doc_id", payload.alias("payload"))
    out = M.attach_metadata(media, "payload", ["doc_id"])
    return out.select("doc_id", F.col("n_bytes").cast("long").alias("n_bytes"), "media_type")


# =====================================================================
# text analysis
# =====================================================================


@register(
    "text_analysis",
    f"""
SELECT doc_id, lang,
       {X.duck_language_id('text')} AS lang_pred,
       CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tokens_ws,
       CAST({X.duck_token_count_bpe('text')} AS BIGINT) AS n_tokens_bpe,
       {X.duck_quality_score('text')} AS quality,
       {X.duck_fingerprint('text')} AS fingerprint
FROM documents
""",
)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: language-ID heuristic, token counts
    (whitespace + BPE-ish regex), quality score, content fingerprint.
    Pure built-in-function columns — one scan, zero shuffles. Built as
    ONE ``spark.sql`` statement from the shared expression-string
    twins in functions/text.py (same formula source as the Column
    builders and the DuckDB fragments; see
    registry.q1_pricing_summary for the one-round-trip rationale)."""
    ensure_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT doc_id, lang,
               {X.language_id_sql('text')} AS lang_pred,
               cast({X.token_count_ws_sql('text')} AS BIGINT) AS n_tokens_ws,
               cast({X.token_count_bpe_sql('text')} AS BIGINT) AS n_tokens_bpe,
               {X.quality_score_sql('text')} AS quality,
               {X.fingerprint_sql('text')} AS fingerprint
        FROM documents
    """)


@register(
    "text_lang_quality_rollup",
    f"""
WITH t AS (
  SELECT lang, source,
         {X.duck_quality_score('text')} AS quality,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       ROUND(SUM(CAST(ROUND(quality * 1000000) AS BIGINT)) / 1000000.0, 4)
         AS sum_quality,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM t GROUP BY lang, source
""",
)
def text_lang_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-quality rollup per (lang, source) — the shape of a
    training-data curation report. Quality is summed in 6-decimal
    micro-unit BIGINTs so the result is independent of float summation
    order (partial-agg safe), then rescaled; the DuckDB oracle does
    the identical thing. One-``spark.sql`` build from the shared
    expression-string twins (see text_analysis)."""
    ensure_views(spark, sf_dir)
    return spark.sql(f"""
        WITH t AS (
          SELECT lang, source,
                 {X.quality_score_sql('text')} AS quality,
                 cast({X.token_count_ws_sql('text')} AS BIGINT) AS n_tok
          FROM documents
        )
        SELECT lang, source,
               count(*) AS n_docs,
               round(sum(cast(round(quality * 1000000.0D) AS BIGINT))
                     / 1000000.0D, 4) AS sum_quality,
               sum(n_tok) AS total_tokens
        FROM t GROUP BY lang, source
    """)


def _near_dup_pair_graph(spark: SparkSession, docs) :
    """Session-memoized MATERIALIZED near-dup pair graph (r10 verdict
    #6): ``ngram_jaccard_pairs`` behind a lazy ``localCheckpoint``
    barrier, plan_memo-keyed on the pair plan + input files. The same
    edge set feeds ``dedup_components`` (star-contraction CC) and
    ``split_no_neardup_leakage`` (CC for cluster-keyed splitting PLUS
    the leak-certificate join) — without the barrier the lazy pair
    pipeline re-executed once per consumer (the r10 sf1 tier paid the
    shingle self-join twice inside one query). The pair list is
    output-sized (the dedup-family invariant: bounded by emitted
    near-dup pairs, never corpus-quadratic), so checkpointing it is
    cheap; blocks are ckpt-tracked for explicit release."""
    from feast_hive_spark import ckpt
    from feast_hive_spark.plans.memo import plan_memo

    # expansion over the session-shared rep-level checkpoint
    # (dedup._collapse_bundle): identical output to
    # ngram_jaccard_pairs, but the shingle self-join is shared with
    # collapsed CC / PageRank instead of re-executed per consumer
    pairs_plan = D.near_dup_member_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    )
    return plan_memo(
        spark,
        [pairs_plan],
        ("near_dup_pair_graph", "doc_id", 3, 0.5),
        lambda: ckpt.track(pairs_plan.localCheckpoint(eager=False)),
    )


@register(
    "dedup_components",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
  ) SELECT * FROM r
)
SELECT src AS doc_id,
       LEAST(src, MIN(dst)) AS component_id,
       src = LEAST(src, MIN(dst)) AS is_canonical
FROM reach GROUP BY src
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph -> connected components -> canonical
    survivor per component. r11: runs via
    ``dedup.connected_components_collapsed`` — exact-duplicate texts
    collapse to class nodes BEFORE the star contraction, so CC never
    touches the member-level edge set (cluster-quadratic under copy
    duplication); labels fan back through the membership table.
    Bit-identical to member-level CC (a dup class lies inside one
    component and min member id = min rep id); the DuckDB twin still
    computes the MEMBER-level fixpoint via a recursive-CTE transitive
    closure, independently certifying the collapse — fine at oracle
    scale and madness at 100 TB, which is exactly why the distributed
    collapsed loop exists."""
    docs = read_table(spark, sf_dir, "documents")
    return D.connected_components_collapsed(docs, "doc_id", "text")


@register(
    "split_no_neardup_leakage",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
  ) SELECT * FROM r
), comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
  FROM reach GROUP BY src
), lab AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
), spl AS (
  SELECT doc_id, cluster_id,
         CASE WHEN CAST(('0x' || substr(md5('ndsplit:' || CAST(cluster_id AS VARCHAR)), 1, 12)) AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5('ndsplit:' || CAST(cluster_id AS VARCHAR)), 1, 12)) AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM lab
), summary AS (
  SELECT split, COUNT(*) AS n_docs,
         COUNT(DISTINCT cluster_id) AS n_clusters
  FROM spl GROUP BY split
), leaks AS (
  SELECT a.split AS sa, b.split AS sb
  FROM pairs p
  JOIN spl a ON a.doc_id = p.id_a
  JOIN spl b ON b.doc_id = p.id_b
  WHERE a.split <> b.split
), leakcnt AS (
  SELECT split, COUNT(*) AS c FROM (
    SELECT sa AS split FROM leaks UNION ALL SELECT sb AS split FROM leaks
  ) GROUP BY split
)
SELECT s.split,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(s.n_clusters AS BIGINT) AS n_clusters,
       CAST(COALESCE(l.c, 0) AS BIGINT) AS n_leaky_pairs
FROM summary s LEFT JOIN leakcnt l ON s.split = l.split
ORDER BY s.split
""",
)
def split_no_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split — the eval-integrity trap
    a plain hash split walks into: two near-duplicate documents land
    on opposite sides and the test set leaks into training. Split
    assignment is by near-dup CLUSTER (connected components of the
    ngram-Jaccard pair graph; singletons are their own cluster), so
    no near-dup pair can straddle a boundary — and the report
    CERTIFIES it, joining every pair to its endpoints' splits and
    counting cross-split pairs (a column that must read 0 by
    construction, computed rather than asserted). Scale shape: the
    cluster labels come from the collapsed CC
    (``connected_components_collapsed`` — memo-shared with
    ``dedup_components``, never member-quadratic), while the leak
    certificate joins the session-shared MATERIALIZED member-level
    pair list (``_near_dup_pair_graph`` checkpoint; the certificate's
    semantics REQUIRE member pairs — that join is output-sized, and
    the checkpoint keeps it one execution; r11, sf1 e2e
    14.5 -> 8.4 s). The split
    itself is a stateless hash on the cluster id, stable under corpus
    growth like curate.hash_split."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = _near_dup_pair_graph(spark, docs)
    comp = D.connected_components_collapsed(docs, "doc_id", "text").select(
        "doc_id", "component_id"
    )
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    b = (
        F.expr(X.h48_sql("concat('ndsplit:', cast(cluster_id as string))"))
        % 10000
    )
    labeled = labeled.withColumn(
        "split",
        F.when(b < 8000, "train").when(b < 9000, "val").otherwise("test"),
    ).cache()  # (r13, §1.3) feeds summary + BOTH leak-join endpoint
    # sides — uncached, the docs⋈CC-labels join and the split hash
    # executed three times per run
    summary = labeled.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
    )
    sa = labeled.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("__sa")
    )
    sb = labeled.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("__sb")
    )
    leaks = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("__sa") != F.col("__sb"))
    )
    leakcnt = (
        leaks.select(F.col("__sa").alias("split"))
        .unionAll(leaks.select(F.col("__sb").alias("split")))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        summary.join(leakcnt, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce(F.col("__c"), F.lit(0)).cast("long").alias(
                "n_leaky_pairs"
            ),
        )
        .transform(_sorted_readout, "split", max_rows=10_000)
    )


@register(
    "embedding_gramian",
    """
WITH idx AS (SELECT unnest(range(1, 65)) AS p),
prs AS (SELECT a.p AS pi, b.p AS pj FROM idx a, idx b)
SELECT CAST(prs.pi - 1 AS BIGINT) AS i,
       CAST(prs.pj - 1 AS BIGINT) AS j,
       CAST(SUM(CAST(round(CAST(e.embedding[prs.pi] AS DOUBLE)
                           * CAST(e.embedding[prs.pj] AS DOUBLE)
                           * 1000000) AS BIGINT)) AS BIGINT) AS sum_e6
FROM embeddings e, prs
GROUP BY 1, 2
""",
)
def embedding_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gramian (X^T X) of the embedding table in exact
    micro-unit fixed point (operators/vecstats.gramian_e6): the
    PCA/whitening building block. Each Arrow batch ships one d²
    partial; the corpus never shuffles. Per-row products are rounded
    BEFORE summation, so the BIGINT total is order-independent and
    hash-matches the DuckDB positions-rescan twin."""
    from feast_hive_spark.operators.vecstats import gramian_e6

    emb = read_table(spark, sf_dir, "embeddings")
    return gramian_e6(emb, "embedding", 64)


@register(
    "embedding_covariance",
    """
WITH idx AS (SELECT unnest(range(1, 65)) AS p),
prs AS (SELECT a.p AS pi, b.p AS pj FROM idx a, idx b),
g AS (
  SELECT prs.pi, prs.pj,
         CAST(SUM(CAST(round(CAST(e.embedding[prs.pi] AS DOUBLE)
                             * CAST(e.embedding[prs.pj] AS DOUBLE)
                             * 1000000) AS BIGINT)) AS BIGINT) AS sum_e6
  FROM embeddings e, prs GROUP BY 1, 2
),
s AS (
  SELECT idx.p,
         CAST(SUM(CAST(round(CAST(e.embedding[idx.p] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s3,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings e, idx GROUP BY 1
)
SELECT CAST(g.pi - 1 AS BIGINT) AS i, CAST(g.pj - 1 AS BIGINT) AS j,
       CAST(a.n * g.sum_e6 - a.s3 * b.s3 AS BIGINT) AS cov_num
FROM g JOIN s a ON a.p = g.pi JOIN s b ON b.p = g.pj
""",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered covariance numerators of the embedding table
    (operators/vecstats.covariance_num_e6): n²·cov in exact integer
    fixed point — the Gramian partials plus posexplode marginal sums
    (partial agg collapses the d-fold fan-out map-side), combined via
    two d-row broadcasts. Divide by n² client-side for the float
    matrix; the PCA input without a single float sum."""
    from feast_hive_spark.operators.vecstats import covariance_num_e6

    emb = read_table(spark, sf_dir, "embeddings")
    return covariance_num_e6(emb, "embedding", 64)


@register(
    "embedding_effective_rank",
    """
WITH idx AS (SELECT unnest(range(1, 65)) AS p),
prs AS (SELECT a.p AS pi, b.p AS pj FROM idx a, idx b),
g AS (
  SELECT prs.pi, prs.pj,
         CAST(SUM(CAST(round(CAST(e.embedding[prs.pi] AS DOUBLE)
                             * CAST(e.embedding[prs.pj] AS DOUBLE)
                             * 1000000) AS BIGINT)) AS BIGINT) AS sum_e6
  FROM embeddings e, prs GROUP BY 1, 2
),
s AS (
  SELECT idx.p,
         CAST(SUM(CAST(round(CAST(e.embedding[idx.p] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s3,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings e, idx GROUP BY 1
),
cov AS (
  SELECT g.pi AS i, g.pj AS j,
         CAST(a.n * g.sum_e6 - a.s3 * b.s3 AS BIGINT) AS cov_num, a.n AS n
  FROM g JOIN s a ON a.p = g.pi JOIN s b ON b.p = g.pj
),
agg AS (
  SELECT MAX(n) AS n,
         SUM(CASE WHEN i = j THEN cov_num END) AS trace_num,
         MAX(CASE WHEN i = j THEN cov_num END) AS max_diag,
         SUM(CAST(cov_num AS DOUBLE) * CAST(cov_num AS DOUBLE)) AS frob_sq
  FROM cov
)
SELECT CAST(n AS BIGINT) AS n_vectors,
       CAST(64 AS BIGINT) AS dim,
       ROUND(CAST(trace_num AS DOUBLE) / (1000000.0 * n * n), 6) AS total_var,
       ROUND(CAST(trace_num AS DOUBLE) * CAST(trace_num AS DOUBLE) / frob_sq, 6)
         AS participation_ratio,
       ROUND(CAST(max_diag AS DOUBLE) / CAST(trace_num AS DOUBLE), 6)
         AS top_var_share
FROM agg
""",
)
def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral effective-rank audit of the embedding column
    (operators/vecstats.spectral_summary): participation ratio
    tr(C)²/‖C‖²_F (Roy–Vetterli effective rank, no eigensolve
    needed), total variance, and top single-coordinate share — the
    collapse/anisotropy check a pipeline runs before trusting
    embeddings for dedup/ANN. Derives from the SAME exact integer
    covariance numerators as embedding_covariance; only the d²-term
    Frobenius fold sums doubles, with ~6 orders of rounding
    headroom."""
    from feast_hive_spark.operators.vecstats import spectral_summary

    emb = read_table(spark, sf_dir, "embeddings")
    return spectral_summary(emb, "embedding", 64)


@register(
    "embedding_decontaminate",
    f"""
WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 50 <> 0),
scored AS (
  SELECT c.vec_id, c.label,
         COALESCE(MAX(ROUND({V.duck_cosine('c.embedding', 'b.embedding')}, 6)),
                  -1e0) AS max_cos
  FROM c LEFT JOIN b ON TRUE
  GROUP BY 1, 2
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_corpus,
       CAST(SUM(CASE WHEN max_cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       MAX(max_cos) AS max_sim,
       CAST(SUM(CAST(round(max_cos * 1000000) AS BIGINT)) AS BIGINT) AS sum_maxsim_e6
FROM scored GROUP BY label ORDER BY label
""",
)
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination
    (operators/simsearch.semantic_decontaminate): per-label counts of
    corpus vectors semantically too close (max cosine ≥ 0.3) to a
    held-out benchmark slice (vec_id % 50 — the deterministic stand-in
    for an eval set) — catches the paraphrased leakage the n-gram
    decontaminate (dedup.decontaminate) cannot. Benchmark broadcast
    behind the typed ANN guard; corpus reduced batch-wise to one row
    each inside mapInPandas, so nothing corpus-sized shuffles."""
    emb = read_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return S.semantic_decontaminate(
        corpus, bench, "vec_id", "embedding", "label", threshold=0.3
    )


@register(
    "embedding_decontaminate_fixed_benchmark",
    f"""
WITH b AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 50 = 0 AND vec_id < 20000),
c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 50 <> 0),
scored AS (
  SELECT c.vec_id, c.label,
         COALESCE(MAX(ROUND({V.duck_cosine('c.embedding', 'b.embedding')}, 6)),
                  -1e0) AS max_cos
  FROM c LEFT JOIN b ON TRUE
  GROUP BY 1, 2
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_corpus,
       CAST(SUM(CASE WHEN max_cos >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       MAX(max_cos) AS max_sim,
       CAST(SUM(CAST(round(max_cos * 1000000) AS BIGINT)) AS BIGINT) AS sum_maxsim_e6
FROM scored GROUP BY label ORDER BY label
""",
)
def embedding_decontaminate_fixed_benchmark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``embedding_decontaminate`` with the benchmark slice CAPPED at
    a constant id range (vec_id < 20000 — the sf1 tier's id space;
    inert at sf<=1, binding at the sf10 tier where the corpus is 10x
    larger). This is the r10 verdict #4 harness probe: in the
    uncapped query the ``vec_id % 50`` benchmark scales WITH the
    corpus, so the matmul volume grows quadratically per decade BY
    CONSTRUCTION and the tier exponent says nothing about the kernel.
    With the benchmark held constant, the second-decade exponent
    directly measures the kernel's claimed corpus-row-linearity
    (one broadcast benchmark, one batch-reduced mapInPandas pass)."""
    emb = read_table(spark, sf_dir, "embeddings")
    bench = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 20000)
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return S.semantic_decontaminate(
        corpus, bench, "vec_id", "embedding", "label", threshold=0.3
    )


@register(
    "embedding_decontaminate_sweep",
    f"""
WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 50 <> 0),
scored AS (
  SELECT c.vec_id,
         COALESCE(MAX(ROUND({V.duck_cosine('c.embedding', 'b.embedding')}, 6)),
                  -1e0) AS max_cos
  FROM c LEFT JOIN b ON TRUE
  GROUP BY 1
), tot AS (SELECT COUNT(*) AS n FROM scored)
SELECT CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(SUM(CASE WHEN s.max_cos >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(round(SUM(CASE WHEN s.max_cos >= t.threshold THEN 1 ELSE 0 END)
                  * 1000000 / tot.n) AS BIGINT) AS flagged_ppm
FROM scored s
CROSS JOIN (VALUES (0.25), (0.3), (0.35), (0.4), (0.45)) t(threshold)
CROSS JOIN tot
GROUP BY t.threshold, tot.n
ORDER BY t.threshold
""",
)
def embedding_decontaminate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination threshold tuning curve
    (operators/simsearch.decontaminate_threshold_sweep): flagged
    count + corpus ppm at five candidate thresholds from ONE scored
    pass — the minhash_band_sweep pattern applied to semantic
    decontamination (pick the flag threshold without re-scoring the
    corpus per candidate). The sweep itself is five conditional sums
    inside one scan-wide aggregate; the corpus crosses the Arrow
    kernel exactly once."""
    emb = read_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return S.decontaminate_threshold_sweep(
        corpus, bench, "vec_id", "embedding", "label"
    )


def _pagerank_sql(iters: int = 3) -> str:
    """Chained-CTE DuckDB twin of operators/graph.pagerank on the
    ngram-Jaccard pair graph — one CTE per iteration, identical
    integer fixed-point arithmetic (BIGINT 1e-12 units, floor
    division), shared base constants."""
    from feast_hive_spark.operators.graph import SCALE

    base = 0.15 * SCALE  # python-evaluated once; embedded in BOTH engines
    sql = [
        f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), prs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION ALL SELECT id_b, id_a FROM prs
), deg AS (
  SELECT src, COUNT(*) AS dg FROM sym GROUP BY src
), n AS (
  SELECT COUNT(*) AS nn FROM deg
), r0 AS (
  SELECT src AS node, CAST(round({float(SCALE)!r} / nn) AS BIGINT) AS r
  FROM deg, n
)"""
    ]
    prev = "r0"
    for k in range(1, iters + 1):
        sql.append(
            f""", i{k} AS (
  SELECT e.dst AS node,
         CAST(round({base!r} / nn) AS BIGINT)
         + CAST((85 * SUM(p.r // d.dg)) // 100 AS BIGINT) AS r
  FROM sym e
  JOIN {prev} p ON e.src = p.node
  JOIN deg d ON d.src = e.src, n
  GROUP BY e.dst, nn
)"""
        )
        prev = f"i{k}"
    sql.append(f"\nSELECT node AS doc_id, r AS rank_e12 FROM {prev}")
    return "".join(sql)


@register("pagerank_near_dup", _pagerank_sql())
def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the near-dup pair graph: the
    'most central duplicate' score a curation pipeline uses to pick
    cluster representatives. r11 (r10 verdict #2): runs via
    ``dedup.pagerank_near_dup_collapsed`` — exact-duplicate texts are
    collapsed to one class node with integer edge weights BEFORE the
    iteration, so the rank recurrence never touches the member-level
    edge set that grows cluster-quadratically under copy duplication
    (109x per corpus decade, SCALING.md r10). Bit-identical to
    member-level PageRank (class members provably share one rank);
    the DuckDB twin still replays the MEMBER-level chained CTEs, so
    the oracle gate independently certifies the collapse's
    equivalence. Three iterations of BIGINT fixed-point arithmetic;
    shuffles sized to the class graph, not the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    pr = D.pagerank_near_dup_collapsed(
        docs, "doc_id", "text", n=3, threshold=0.5, iters=3
    )
    return pr.select(F.col("doc_id"), "rank_e12")


@register(
    "profile_lineitem",
    """
WITH one AS (
  SELECT COUNT(*) AS n FROM lineitem
)
SELECT column_name, n AS n_rows, n_null, n_distinct, min_val, max_val, mean_val
FROM one, (
  SELECT 'l_quantity' AS column_name,
         CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(COUNT(DISTINCT CAST(l_quantity AS DOUBLE)) AS BIGINT) AS n_distinct,
         MIN(CAST(l_quantity AS DOUBLE)) AS min_val,
         MAX(CAST(l_quantity AS DOUBLE)) AS max_val,
         ROUND(AVG(CAST(l_quantity AS DOUBLE)), 4) AS mean_val
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice',
         CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(l_extendedprice AS DOUBLE)) AS BIGINT),
         MIN(CAST(l_extendedprice AS DOUBLE)),
         MAX(CAST(l_extendedprice AS DOUBLE)),
         ROUND(AVG(CAST(l_extendedprice AS DOUBLE)), 4)
  FROM lineitem
  UNION ALL
  SELECT 'l_discount',
         CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(l_discount AS DOUBLE)) AS BIGINT),
         MIN(CAST(l_discount AS DOUBLE)),
         MAX(CAST(l_discount AS DOUBLE)),
         ROUND(AVG(CAST(l_discount AS DOUBLE)), 4)
  FROM lineitem
  UNION ALL
  SELECT 'l_tax',
         CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(l_tax AS DOUBLE)) AS BIGINT),
         MIN(CAST(l_tax AS DOUBLE)),
         MAX(CAST(l_tax AS DOUBLE)),
         ROUND(AVG(CAST(l_tax AS DOUBLE)), 4)
  FROM lineitem
)
""",
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the fact table: Spark computes
    ALL columns' stats in one aggregate over one scan and unpivots via
    stack(); the DuckDB twin spells the same stats as per-column
    UNION branches."""
    from feast_hive_spark.operators.profile import profile_columns

    li = read_table(spark, sf_dir, "lineitem")
    return profile_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@register(
    "decontaminate_vs_benchmark",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), train AS (SELECT * FROM s WHERE doc_id % 20 <> 0),
bench AS (SELECT * FROM s WHERE doc_id % 20 = 0)
SELECT train_id, bench_id, jaccard, containment FROM (
  SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
         ROUND(CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE)
               / greatest(len(list_distinct(list_concat(t.sh, b.sh))), 1), 6)
           AS jaccard,
         ROUND(CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE)
               / greatest(len(b.sh), 1), 6) AS containment
  FROM train t JOIN bench b ON len(list_intersect(t.sh, b.sh)) > 0
) WHERE jaccard >= 0.5 OR containment >= 0.5
""",
)
def decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination check: the documents table split into
    a pseudo benchmark (doc_id % 20 == 0) and training remainder;
    training docs overlapping a benchmark doc above threshold (by
    Jaccard or benchmark-containment) are flagged. The benchmark-side
    inverted index broadcasts - the DuckDB twin's all-pairs join is
    oracle-scale only."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return D.decontaminate(train, bench, "doc_id", "text", threshold=0.5)


@register(
    "events_json_props",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events
GROUP BY event_type
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column vocabulary: JSON path extraction out of
    the events props column, aggregated per type. get_json_object is
    JVM-side (Jackson under codegen) — the scan reads only (props,
    event_type) and no Python is involved; at 100 TB you'd hoist hot
    JSON paths into materialized columns, which this projection shape
    makes a pure one-line change."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high"),
        )
    )


@register(
    "events_sliding_rollup",
    """
SELECT CAST(to_timestamp((floor(epoch(CAST(ts AS TIMESTAMP)) / 43200) - i) * 43200)
            AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events, range(0, 2) r(i)
GROUP BY 1, 2
""",
)
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window batch rollup (1-day windows every 12h): the batch
    twin of streaming/windowed_counts(slide=...). Spark's window()
    replicates each row into win/slide buckets before the aggregate —
    the DuckDB twin spells that replication out with an explicit
    range(2) lateral, pinning down the exact epoch-aligned semantics."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "pack_sequences_2048",
    f"""
WITH lens AS (
  SELECT doc_id, CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
), ordered AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM lens
)
SELECT doc_id, n_tok,
       CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin_id
FROM ordered
""",
)
def pack_sequences_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 2048-token bins (operators/pack.py): the
    distributed prefix-sum implementation must reproduce the oracle's
    single global running sum exactly - range partitioning + broadcast
    partition offsets ARE the global order."""
    from feast_hive_spark.operators.pack import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", X.token_count_ws("text").cast("long").alias("n_tok")
    )
    return pack_sequences(lens, "doc_id", "n_tok", capacity=2048)


@register(
    "text_token_percentiles",
    f"""
WITH t AS (
  SELECT lang, CAST({X.duck_token_count_ws('text')} AS DOUBLE) AS n_tok
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
       ROUND(quantile_cont(n_tok, 0.9), 4) AS p90_tokens,
       MAX(CAST(n_tok AS BIGINT)) AS max_tokens
FROM t GROUP BY lang
""",
)
def text_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution per language — the report that drives
    truncation/packing decisions in a training pipeline. Token counting
    is the shared JVM-side builder; percentiles are the exact
    interpolated form (see percentile_order_value for the
    approx_percentile scale note)."""
    docs = read_table(spark, sf_dir, "documents")
    n_tok = X.token_count_ws("text").cast("double")
    return (
        docs.select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # one percentile(col, array(...)) buffer instead of two
            # (r13, guide §2.3 — see percentile_order_value)
            F.expr("percentile(n_tok, array(0.5D, 0.9D))").alias("__ps"),
            F.max(F.col("n_tok").cast("long")).alias("max_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("__ps")[0], 4).alias("p50_tokens"),
            F.round(F.col("__ps")[1], 4).alias("p90_tokens"),
            "max_tokens",
        )
    )


@register(
    "events_sessionize_batch",
    """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - LAG(CAST(ts AS TIMESTAMP), 1, TIMESTAMP '1970-01-01')
                     OVER (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), tagged AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       MIN(ts) AS session_start, MAX(ts) AS session_last_event,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM tagged GROUP BY user_id, session_no
""",
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands: a new session starts
    where the gap to the previous event exceeds 30 minutes (lag), and
    the running sum of session starts numbers the islands. The exact
    batch twin of streaming session_window (same gap rule), verified
    equivalent in tests/test_streaming.py - one window pass + one
    aggregate, both partitioned by user."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1, 0).over(w)
    tagged = ev.withColumn(
        "new_session", F.when(gap > 1800, 1).otherwise(0)
    ).withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        tagged.groupBy("user_id", F.col("session_no").cast("long").alias("session_no"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last_event"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "user_event_type_profile",
    """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',')
         AS event_types,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregation: per-user sorted distinct event-type set
    (as a canonical comma string so both engines hash identically) +
    cardinalities. collect_set is the mergeable partial-agg shape -
    no row explosion, set size bounded by the type vocabulary."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "curation_pipeline",
    f"""
WITH scored AS (
  SELECT doc_id, text,
         {X.duck_quality_score('text')} AS quality,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE quality >= 0.5
), survivors AS (
  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)
), lens AS (
  SELECT k.doc_id, k.n_tok, k.quality
  FROM kept k JOIN survivors s ON s.doc_id = k.doc_id
), ordered AS (
  SELECT doc_id, n_tok, quality,
         SUM(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM lens
)
SELECT doc_id, n_tok, ROUND(quality, 6) AS quality,
       CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin_id
FROM ordered
""",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation story in ONE lazy plan:
    quality-score filter -> exact-dedup survivor selection -> sequence
    packing into 2048-token bins. Every stage is an operator gated on
    its own elsewhere; this entry proves they COMPOSE - one logical
    plan, Catalyst free to pipeline the filter into the scan, the
    dedup argmin into one shuffle, and the packing prefix-sum on the
    (already small) survivor set."""
    from feast_hive_spark.operators.pack import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    # cached (r13, guide §1.3): scored feeds the survivor argmin AND
    # the join-back side — uncached, the scan + quality-score +
    # token-count expressions executed twice per run. The cache holds
    # (id, 32-char hash, double, long) — never the raw text.
    scored = docs.select(
        "doc_id",
        F.md5("text").alias("__h"),
        X.quality_score("text").alias("quality"),
        X.token_count_ws("text").cast("long").alias("n_tok"),
    ).filter(F.col("quality") >= 0.5).cache()
    survivors = (
        scored.groupBy("__h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    lens = scored.join(survivors, "doc_id").select(
        "doc_id", "n_tok", F.round("quality", 6).alias("quality")
    )
    # quality rides through the packer (passthrough columns), so the
    # scan -> score -> dedup subtree is computed exactly once (the
    # packer's eager totals pass populates its cache) — no join-back.
    return pack_sequences(lens, "doc_id", "n_tok", capacity=2048).select(
        "doc_id", "n_tok", "quality", "bin_id"
    )


# =====================================================================
# curation bookkeeping: splits, stratified sampling, term scrubbing
# =====================================================================

_SPLIT_B = (
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12)) "
    "AS BIGINT) % 10000"
)
_STRAT_H = (
    "CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 12)) "
    "AS BIGINT) % 10000"
)


@register(
    "split_train_val_test",
    f"""
WITH t AS (
  SELECT doc_id,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok,
         {_SPLIT_B} AS b
  FROM documents
)
SELECT CASE WHEN b < 9000 THEN 'train'
            WHEN b < 9500 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM t
GROUP BY 1
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 hash split with per-split doc/token
    tallies. The assignment is a stateless per-row hash (no shuffle,
    no RNG, stable under corpus growth — eval rows can never leak into
    train on a re-run); the only exchange is the 3-group final agg."""
    from feast_hive_spark.operators.curate import hash_split

    docs = read_table(spark, sf_dir, "documents")
    labeled = hash_split(docs, "doc_id", (0.9, 0.05, 0.05))
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count_ws("text").cast("long")).alias("sum_tok"),
    )


@register(
    "stratified_sample_by_lang",
    f"""
WITH t AS (
  SELECT doc_id,
         {X.duck_language_id('text')} AS lang,
         {_STRAT_H} AS h
  FROM documents
)
SELECT doc_id, lang
FROM t
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
        <= CAST(ceil(0.2 * (COUNT(*) OVER (PARTITION BY lang))) AS BIGINT)
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 20 % per-language sample: hash-ranked row_number vs a
    per-stratum count, one shuffle keyed by language. The shuffle-free
    approximate path (mode="hash") is tested against this one in
    tests/test_curate.py; both are deterministic in doc_id."""
    from feast_hive_spark.operators.curate import stratified_sample

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", X.language_id("text").alias("lang")
    )
    return stratified_sample(docs, "lang", 0.2, "doc_id", mode="exact")


_SCRUB_PAT = r"\b(customer|supplier|order)\b"


@register(
    "scrub_forbidden_terms",
    f"""
SELECT doc_id,
       md5(regexp_replace(text, '{_SCRUB_PAT}', '[TERM]', 'g')) AS clean_md5,
       CAST(len(regexp_extract_all(text, '{_SCRUB_PAT}')) AS BIGINT) AS n_scrubbed
FROM documents
""",
)
def scrub_forbidden_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-word lexicon scrub (the PII/benchmark-redaction shape):
    one codegen'd regexp pass, zero shuffles; gated on the md5 of the
    scrubbed text so the replacement itself is byte-verified."""
    from feast_hive_spark.operators.curate import scrub_terms

    docs = read_table(spark, sf_dir, "documents")
    out = scrub_terms(docs, "text", ["customer", "supplier", "order"])
    return out.select(
        "doc_id", F.md5("text_clean").alias("clean_md5"), "n_scrubbed"
    )


@register(
    "text_repetition_stats",
    f"""
SELECT doc_id,
       CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok,
       {X.duck_distinct_ratio(X.duck_words('text'))} AS distinct_tok_ratio,
       {X.duck_top_freq_frac(X.duck_bigrams('text'))} AS top_bigram_frac
FROM documents
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/diversity quality signals (the Gopher-rules shape):
    lexical diversity (distinct-token ratio) and the frequency share of
    the modal bigram. Pure map over the scan — zero shuffles, and each
    row costs O(n log n) in its own token count (sorted run-length for
    the mode), so the operator is linear in corpus size at any scale.

    The token/bigram arrays are projected as named columns BEFORE the
    lambda-consuming expressions: multi-use expensive aliases survive
    CollapseProject, so split() runs once per row instead of once per
    array element (measured 16× on sf0.1)."""
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", X.words("text").alias("__w"))
    bg = w.select(
        "doc_id", "__w", X.bigrams_of(F.col("__w")).alias("__bg")
    )
    return bg.select(
        "doc_id",
        F.size("__w").cast("long").alias("n_tok"),
        X.distinct_ratio(F.col("__w")).alias("distinct_tok_ratio"),
        X.top_freq_frac(F.col("__bg")).alias("top_bigram_frac"),
    )


@register(
    "langid_confusion",
    f"""
SELECT lang AS gold, pred, COUNT(*) AS n
FROM (
  SELECT lang, {X.duck_language_id('text')} AS pred FROM documents
)
GROUP BY lang, pred
""",
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID evaluated against the corpus's gold
    ``lang`` column as a confusion matrix — the classifier-quality
    report a pipeline runs before trusting a filter. One scan, one
    tiny-key agg."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("gold"),
            X.language_id("text").alias("pred"),
        )
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "corpus_mix_weights",
    f"""
WITH scored AS (
  SELECT source,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok,
         CAST(ROUND({X.duck_quality_score('text')} * 1000000, 0) AS BIGINT) AS q_u
  FROM documents
), g AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
         ROUND(SUM(q_u) / (1000000.0 * COUNT(*)), 6) AS avg_quality
  FROM scored GROUP BY source
)
SELECT source, n_docs, sum_tok, avg_quality,
       ROUND(CAST((SELECT SUM(n_docs) FROM g) AS DOUBLE)
             / ((SELECT COUNT(*) FROM g) * n_docs), 6) AS mix_weight
FROM g
""",
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix report per source + the deterministic resampling
    weight that would rebalance to a uniform source mix
    (weight = total/(n_sources·n_docs); >1 upsample, <1 downsample).
    Quality is averaged in integer micro-units so float summation
    order can't flake the hash. The totals are a second reduce over
    the (tiny) grouped result, broadcast back — no second corpus
    scan, no driver collect."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        X.token_count_ws("text").cast("long").alias("n_tok"),
        F.round(X.quality_score("text") * 1000000, 0)
        .cast("long")
        .alias("q_u"),
    )
    # cached (r13, guide §1.3): g feeds the totals scalar AND the
    # readout — uncached, the corpus scan with the quality-score +
    # token-count text expressions executed twice per run.
    # Source-domain-sized.
    g = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tok"),
        F.round(F.sum("q_u") / (1000000.0 * F.count(F.lit(1))), 6).alias(
            "avg_quality"
        ),
    ).cache()
    tot = g.agg(
        F.sum("n_docs").alias("__tot"),
        F.count(F.lit(1)).alias("__nsrc"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sum_tok",
        "avg_quality",
        F.round(
            F.col("__tot").cast("double") / (F.col("__nsrc") * F.col("n_docs")), 6
        ).alias("mix_weight"),
    )


@register(
    "label_centroids",
    """
WITH x AS (
  SELECT CAST(label AS BIGINT) AS label, i AS pos,
         CAST(ROUND(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS vu
  FROM embeddings, range(0, 64) r(i)
  WHERE i < len(embedding)
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       ROUND(SUM(vu) / (1000000.0 * COUNT(*)), 6) AS centroid_val
FROM x
GROUP BY label, pos
""",
)
def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (posexplode -> tiny-key agg;
    micro-unit sums make the float reduction order-independent)."""
    from feast_hive_spark.operators.simsearch import label_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    out = label_centroids(emb, "embedding", "label")
    return out.select("label", F.col("pos").cast("long").alias("pos"), "centroid_val")


@register(
    "knn_label_accuracy",
    f"""
WITH e AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label FROM embeddings),
p AS (
  SELECT a.vec_id AS q, b.vec_id AS nb, b.label AS nb_label,
         ROUND({V.duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), topk AS (
  SELECT q, nb_label FROM (
    SELECT q, nb_label,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, nb) AS rn
    FROM p
  ) WHERE rn <= 5
), votes AS (
  SELECT q, nb_label, COUNT(*) AS c FROM topk GROUP BY q, nb_label
), pred AS (
  SELECT q, nb_label AS pred FROM (
    SELECT q, nb_label,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, nb_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT e.label AS label, COUNT(*) AS n,
       CAST(SUM(CASE WHEN pr.pred = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM pred pr JOIN e ON e.vec_id = pr.q
GROUP BY e.label
""",
)
def knn_label_accuracy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-consistency (k=5 majority vote) per label — the
    embedding-quality probe; all-pairs via the distributed block
    kernel, no driver collect."""
    from feast_hive_spark.operators.simsearch import knn_label_accuracy

    emb = read_table(spark, sf_dir, "embeddings")
    return knn_label_accuracy(emb, "vec_id", "embedding", "label", k=5)


@register(
    "pii_scrub_stats",
    f"""
WITH aug AS (
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 3 > 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1 and 192.168.' || CAST(doc_id % 50 AS VARCHAR) || '.7' ELSE '' END)
         || (CASE WHEN doc_id % 7 = 0 THEN ' tel +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0') ELSE '' END)
         AS t
  FROM documents
)
SELECT doc_id,
       CAST({X.duck_pii_count('t', X.PII_EMAIL_RE)} AS BIGINT) AS n_email,
       CAST({X.duck_pii_count('t', X.PII_IPV4_RE)} AS BIGINT) AS n_ip,
       CAST({X.duck_pii_count('t', X.PII_PHONE_RE)} AS BIGINT) AS n_phone,
       md5({X.duck_redact_pii('t')}) AS clean_md5
FROM aug
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: per-doc counts of
    email / IPv4 / +phone regex matches and the md5 of the redacted
    text. Pure codegen map — one scan, zero shuffles, linear at any
    corpus size.

    The synthetic corpus contains no real PII, so both engines first
    augment each document with DETERMINISTIC doc_id-derived PII
    (modulo-varied so counts differ across rows) — the oracle then
    genuinely proves the Spark (Java regex) and DuckDB (RE2) engines
    match identical spans; patterns are restricted to the common
    regex subset (functions/text.py:PII_PATTERNS)."""
    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 > 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 200).cast("string"),
                    F.lit(".0.1 and 192.168."),
                    (did % 50).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" tel +1555"),
                    F.lpad(did.cast("string"), 7, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        X.pii_count(F.col("t"), X.PII_EMAIL_RE).cast("long").alias("n_email"),
        X.pii_count(F.col("t"), X.PII_IPV4_RE).cast("long").alias("n_ip"),
        X.pii_count(F.col("t"), X.PII_PHONE_RE).cast("long").alias("n_phone"),
        F.md5(X.redact_pii(F.col("t"))).alias("clean_md5"),
    )


_GOPHER_STOP = X._quote_list(X.EN_STOPWORDS)


@register(
    "gopher_quality_flags",
    f"""
WITH w AS (
  SELECT doc_id,
         {X.duck_words('text')} AS w,
         {X.duck_bigrams('text')} AS bg
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tok,
         CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sum_wlen,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(w, y -> y IN ({_GOPHER_STOP}))) AS BIGINT) AS n_stop,
         CAST(len(bg) AS BIGINT) AS n_bg,
         CAST({X.duck_modal_count('bg')} AS BIGINT) AS top_bg
  FROM w
)
SELECT doc_id, n_tok,
       (n_tok BETWEEN 30 AND 60) AS flag_len,
       (425 * n_tok <= 100 * sum_wlen AND 100 * sum_wlen <= 455 * n_tok) AS flag_wlen,
       (n_stop >= 2) AS flag_stop,
       (2 * n_distinct >= n_tok) AS flag_distinct,
       (10 * top_bg <= n_bg) AS flag_rep,
       (n_tok BETWEEN 30 AND 60
        AND 425 * n_tok <= 100 * sum_wlen AND 100 * sum_wlen <= 455 * n_tok
        AND n_stop >= 2
        AND 2 * n_distinct >= n_tok
        AND 10 * top_bg <= n_bg) AS keep
FROM m
""",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality gate (the Rae et al. 2021 repetition/shape
    heuristics re-expressed for this corpus): per-document boolean
    flags for token-count bounds, mean word length in [4.25, 4.55],
    >=2 stopwords, distinct-token ratio >= 0.5, and modal-bigram share
    <= 0.1, plus the conjunctive keep decision.

    Every threshold is evaluated in INTEGER arithmetic (mean-in-range
    as cross-multiplied sums, ratios as scaled counts) so the two
    engines can't diverge on float rounding. Pure map over one scan —
    zero shuffles; per-row cost O(n log n) in document length."""
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", X.words("text").alias("__w"))
    bg = w.select("doc_id", "__w", X.bigrams_of(F.col("__w")).alias("__bg"))
    m = bg.select(
        "doc_id",
        F.size("__w").cast("long").alias("n_tok"),
        F.aggregate(
            F.col("__w"), F.lit(0), lambda acc, x: acc + F.length(x)
        )
        .cast("long")
        .alias("sum_wlen"),
        F.size(F.array_distinct("__w")).cast("long").alias("n_distinct"),
        F.size(
            F.filter(F.col("__w"), lambda x: x.isin(*X.EN_STOPWORDS))
        )
        .cast("long")
        .alias("n_stop"),
        F.size("__bg").cast("long").alias("n_bg"),
        X.modal_count(F.col("__bg")).cast("long").alias("top_bg"),
    )
    flag_len = F.col("n_tok").between(30, 60)
    flag_wlen = (425 * F.col("n_tok") <= 100 * F.col("sum_wlen")) & (
        100 * F.col("sum_wlen") <= 455 * F.col("n_tok")
    )
    flag_stop = F.col("n_stop") >= 2
    flag_distinct = 2 * F.col("n_distinct") >= F.col("n_tok")
    flag_rep = 10 * F.col("top_bg") <= F.col("n_bg")
    return m.select(
        "doc_id",
        "n_tok",
        flag_len.alias("flag_len"),
        flag_wlen.alias("flag_wlen"),
        flag_stop.alias("flag_stop"),
        flag_distinct.alias("flag_distinct"),
        flag_rep.alias("flag_rep"),
        (flag_len & flag_wlen & flag_stop & flag_distinct & flag_rep).alias(
            "keep"
        ),
    )


@register(
    "vocab_zipf",
    f"""
WITH tok AS (
  SELECT unnest({X.duck_words('text')}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n FROM tok WHERE token <> '' GROUP BY token
), ranked AS (
  SELECT token, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank,
         SUM(n) OVER (ORDER BY n DESC, token
                      ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n) OVER () AS tot
  FROM counts
)
SELECT CAST(rank AS BIGINT) AS rank, token, n,
       ROUND(CAST(cum_n AS DOUBLE) / tot, 6) AS cum_share
FROM ranked
WHERE rank <= 100
""",
)
def vocab_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token vocabulary with Zipf diagnostics: top-100 tokens by
    frequency with deterministic rank (count desc, token asc) and the
    cumulative frequency share — the vocabulary-skew report a pipeline
    reads before choosing tokenizer/filters.

    Shape: explode -> token-keyed hash agg (partial map-side combine
    collapses each partition to its distinct tokens before the
    exchange, so the shuffle carries the VOCABULARY, not the corpus)
    -> single-partition window over the tiny count table. The global
    window runs on n_distinct_tokens rows, never on corpus rows —
    fine at any corpus scale (vocab is sublinear), and the top-100
    limit is applied after rank so ties are stable cross-engine."""
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(X.words("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    ranked = counts.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "n",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(wall).alias("tot"),
    )
    return ranked.filter(F.col("rank") <= 100).select(
        F.col("rank").cast("long").alias("rank"),
        "token",
        "n",
        F.round(F.col("cum_n").cast("double") / F.col("tot"), 6).alias(
            "cum_share"
        ),
    )


@register(
    "multimodal_frame_sample",
    """
WITH v AS (
  SELECT doc_id, 1 + doc_id % 240 AS n_frames FROM documents
)
SELECT doc_id,
       CAST(unnest(generate_series(0, GREATEST(n_frames - 1, 0), 24)) AS BIGINT) AS frame_index
FROM v
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (multimodal.py:sample_frames): every
    24th frame index of a synthetic per-doc frame count, exploded
    JVM-side AFTER selection so only kept indices materialize. The
    stubbed decode step never runs here — the gated part is the
    fan-out shape a 100 TB video job actually pays for."""
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents")
    v = docs.select("doc_id", (1 + F.col("doc_id") % 240).alias("n_frames"))
    out = M.sample_frames(v, "doc_id", "n_frames", every_n=24)
    return out.select("doc_id", F.col("frame_index").cast("long").alias("frame_index"))


@register(
    "multimodal_ahash_near_dup",
    """
WITH g AS (
  SELECT doc_id, doc_id // 5 AS base,
         8 + (doc_id // 5) % 5 AS w, 6 + (doc_id // 5) % 4 AS h
  FROM documents
), cells AS (
  SELECT doc_id, base, w, h, unnest(range(0, 64)) AS b FROM g
), px AS (
  SELECT doc_id, b,
         ((b // 8) * h // 8) * w + ((b % 8) * w // 8) AS k,
         base, w, h
  FROM cells
), vals AS (
  SELECT doc_id, b,
         (base * 31 + 7 * k
          + CASE WHEN k % 37 = 0 THEN doc_id % 5 ELSE 0 END) % 256 AS v
  FROM px
), sums AS (
  SELECT doc_id, b, v, SUM(v) OVER (PARTITION BY doc_id) AS s FROM vals
), bands AS (
  SELECT doc_id, b // 16 AS j,
         CAST(SUM(CASE WHEN 64 * v > s THEN (1 << (b % 16)) ELSE 0 END) AS BIGINT) AS val
  FROM sums GROUP BY doc_id, b // 16
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.j = r.j AND l.val = r.val AND l.doc_id < r.doc_id
), wide AS (
  SELECT doc_id,
         MAX(CASE WHEN j = 0 THEN val END) AS b0,
         MAX(CASE WHEN j = 1 THEN val END) AS b1,
         MAX(CASE WHEN j = 2 THEN val END) AS b2,
         MAX(CASE WHEN j = 3 THEN val END) AS b3
  FROM bands GROUP BY doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(a.b0, bb.b0)) + bit_count(xor(a.b1, bb.b1))
          + bit_count(xor(a.b2, bb.b2)) + bit_count(xor(a.b3, bb.b3)) AS BIGINT) AS hamming
FROM cand
JOIN wide a ON cand.id_a = a.doc_id
JOIN wide bb ON cand.id_b = bb.doc_id
WHERE bit_count(xor(a.b0, bb.b0)) + bit_count(xor(a.b1, bb.b1))
    + bit_count(xor(a.b2, bb.b2)) + bit_count(xor(a.b3, bb.b3)) <= 6
""",
)
def multimodal_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual hashing over REAL decoded
    pixels: every 5 docs share a base pattern with a sparse per-doc
    perturbation; each is encoded to PNG (stdlib codec), decoded
    back, average-hashed on an 8x8 sample grid, and paired through
    the 4x16-bit band join with exact hamming verification
    (operators/multimodal.image_ahash_bands / ahash_near_dup_pairs).
    The DuckDB twin recomputes the hash straight from the pixel
    formula — it never sees a PNG — so a hash match proves decode,
    sampling, bit packing, banding and pairing are all bit-exact."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import png
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4).
        memo: dict = {}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                base = int(d) // 5
                w, h = 8 + base % 5, 6 + base % 4
                k = np.arange(w * h, dtype=np.int64)
                v = (base * 31 + 7 * k + np.where(k % 37 == 0, int(d) % 5, 0)) % 256
                img = v.astype(np.uint8).reshape(h, w)
                key = (w, h, img.tobytes())
                p = memo.get(key)
                if p is None:
                    p = png.encode(img)
                    if len(memo) < 65536:
                        memo[key] = p
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    bands = M.image_ahash_bands(media, "payload", "doc_id")
    return M.ahash_near_dup_pairs(bands, "doc_id", max_hamming=6)


@register(
    "multimodal_pixel_stats",
    """
SELECT d.doc_id,
       CAST(8 + d.doc_id % 5 AS BIGINT) AS width,
       CAST(6 + d.doc_id % 4 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(SUM((d.doc_id * 31 + 7 * t.k) % 256) AS BIGINT) AS sum_pixel,
       CAST(MIN((d.doc_id * 31 + 7 * t.k) % 256) AS BIGINT) AS min_pixel,
       CAST(MAX((d.doc_id * 31 + 7 * t.k) % 256) AS BIGINT) AS max_pixel
FROM documents d,
     LATERAL (SELECT unnest(range(0, (8 + d.doc_id % 5) * (6 + d.doc_id % 4))) AS k) t
GROUP BY d.doc_id
""",
)
def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-gated: per doc, a grayscale PNG is
    encoded from the deterministic pixel formula
    ``v(k) = (doc_id*31 + 7k) % 256`` (stdlib codec, functions/png.py),
    then decoded back by ``image_pixel_stats`` into exact integer
    stats. The DuckDB twin computes the same stats straight from the
    formula — it never sees a PNG, so a hash match proves the
    encode->decode round trip is pixel-exact. Both codec halves run
    Arrow-batched in map-only stages; payload bytes never shuffle."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import png
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4).
        memo: dict = {}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                w, h = 8 + int(d) % 5, 6 + int(d) % 4
                k = np.arange(w * h, dtype=np.int64)
                img = ((int(d) * 31 + 7 * k) % 256).astype(np.uint8).reshape(h, w)
                key = (w, h, img.tobytes())
                p = memo.get(key)
                if p is None:
                    p = png.encode(img)
                    if len(memo) < 65536:
                        memo[key] = p
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    return M.image_pixel_stats(media, "payload", "doc_id")


@register(
    "multimodal_jpeg_pixel_stats",
    """
SELECT d.doc_id,
       CAST(8 * (1 + d.doc_id % 3) AS BIGINT) AS width,
       CAST(8 * (1 + d.doc_id % 2) AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(64 * SUM((d.doc_id * 37 + gx.x * 11 + gy.y * 23) % 256) AS BIGINT) AS sum_pixel,
       CAST(MIN((d.doc_id * 37 + gx.x * 11 + gy.y * 23) % 256) AS BIGINT) AS min_pixel,
       CAST(MAX((d.doc_id * 37 + gx.x * 11 + gy.y * 23) % 256) AS BIGINT) AS max_pixel
FROM documents d,
     LATERAL (SELECT unnest(range(0, 1 + d.doc_id % 3)) AS x) gx,
     LATERAL (SELECT unnest(range(0, 1 + d.doc_id % 2)) AS y) gy
GROUP BY d.doc_id
""",
)
def multimodal_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode, oracle-gated (the JPEG twin of
    multimodal_pixel_stats): per doc, a grayscale baseline JPEG is
    encoded from 8x8-constant blocks ``v(bx,by) = (doc_id*37 + 11bx
    + 23by) % 256`` (functions/jpeg.py, flat q=1). Constant blocks
    are pure DC, where flat-q=1 quantization is mathematically
    lossless — so the decoded stats must be BIT-EXACT, and the DuckDB
    twin computes them straight from the block formula without ever
    seeing a JPEG. A hash match proves the entropy coding, dequant,
    IDCT and layout logic of the decoder end-to-end. Both codec
    halves run Arrow-batched in map-only stages; payloads never
    shuffle."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import jpeg
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4):
        # identical rendered block grids encode once per task.
        memo: dict = {}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                bw, bh = 1 + int(d) % 3, 1 + int(d) % 2
                bx, by = np.meshgrid(np.arange(bw), np.arange(bh))
                blocks = ((int(d) * 37 + bx * 11 + by * 23) % 256).astype(
                    np.uint8
                )
                key = (bw, bh, blocks.tobytes())
                p = memo.get(key)
                if p is None:
                    img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                    p = jpeg.encode(img[:, :, None], qluma=1)
                    if len(memo) < 65536:
                        memo[key] = p
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    return M.image_pixel_stats(media, "payload", "doc_id")


@register(
    "multimodal_type_rollup",
    """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '\\x89\\x50\\x4E\\x47\\x0D\\x0A\\x1A\\x0A'::BLOB || encode(text)
              WHEN doc_id % 3 = 1
              THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB || encode(text)
              ELSE encode(text) END AS payload
  FROM documents
)
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'image/jpeg'
            ELSE 'application/octet-stream' END AS media_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
       CAST(MIN(octet_length(payload)) AS BIGINT) AS min_bytes,
       CAST(MAX(octet_length(payload)) AS BIGINT) AS max_bytes
FROM media
GROUP BY 1
""",
)
def multimodal_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-type storage rollup over the sniffed (not asserted) type
    column: the partition-planning query a multimodal ingest runs
    before sizing decode fleets. Metadata-only — payload bytes never
    shuffle (the aggregate folds octet lengths map-side)."""
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents")
    enc = F.encode(F.col("text"), "utf-8").cast("binary")
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), enc))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit(b"\xff\xd8\xff\xe0"), enc))
        .otherwise(enc)
    )
    media = docs.select("doc_id", payload.alias("payload"))
    out = M.attach_metadata(media, "payload", ["doc_id"])
    return out.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").cast("long").alias("min_bytes"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
    )


@register(
    "near_dup_canonical_by_quality",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
  ) SELECT * FROM r
), comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
  FROM reach GROUP BY src
), scored AS (
  SELECT c.doc_id, c.component_id,
         {X.duck_quality_score('d.text')} AS quality
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT doc_id, component_id, quality,
       (quality, -doc_id) = MAX((quality, -doc_id))
         OVER (PARTITION BY component_id) AS keep
FROM scored
""",
)
def near_dup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style canonical selection: near-dup clusters from the
    3-gram Jaccard pair graph (>= 0.5), connected components
    (large-star/small-star), and per-cluster survivor = argmax
    (quality, lowest doc_id tiebreak). keep=true marks the one doc per
    cluster a curation pipeline retains; everything else is the
    discard list. The components loop is the O(log d) distributed
    contraction; the argmax is one component-keyed window over
    cluster-sized rows (never text). The DuckDB twin recomputes the
    same fixpoint via recursive CTE — oracle-tractable, cluster-
    intractable, which is the point of the distributed path."""
    from feast_hive_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    comp = D.connected_components_collapsed(docs, "doc_id", "text").select(
        "doc_id", "component_id"
    )
    # cached: the argmax aggregate and the join-back both consume it —
    # uncached, the quality expression and the comp⋈docs join execute
    # twice (r13, guide §1.3); rows are (id, id, double), never text
    scored = comp.join(
        docs.select("doc_id", X.quality_score("text").alias("quality")),
        "doc_id",
    ).cache()
    # per-cluster argmax via grouped max (partial aggregation folds a
    # giant boilerplate cluster map-side before the exchange) joined
    # back — a component-keyed window would pin the whole cluster in
    # one unsplittable partition (the novelty-operator lesson)
    best = scored.groupBy("component_id").agg(
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("__nid"))
        ).alias("__best")
    )
    # one row per component, bounded by the docs scan — broadcast it
    # (gated) so the member side never shuffles into a SortMergeJoin
    best = gated_broadcast(best, probe=docs)
    return scored.join(best, "component_id").select(
        "doc_id",
        "component_id",
        "quality",
        (
            (F.col("quality") == F.col("__best.quality"))
            & (F.col("doc_id") == -F.col("__best.__nid"))
        ).alias("keep"),
    )


@register(
    "multimodal_audio_stats",
    """
SELECT d.doc_id,
       CAST(64 + d.doc_id % 33 AS BIGINT) AS n_frames,
       CAST(1 + d.doc_id % 2 AS BIGINT) AS n_channels,
       CAST(8000 + (d.doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
       CAST(SUM(abs((d.doc_id * 7919 + t.k * 131) % 65536 - 32768)) AS BIGINT)
         AS sum_abs,
       CAST(MAX(abs((d.doc_id * 7919 + t.k * 131) % 65536 - 32768)) AS BIGINT)
         AS max_abs
FROM documents d,
     LATERAL (SELECT unnest(range(0,
         (64 + d.doc_id % 33) * (1 + d.doc_id % 2))) AS k) t
GROUP BY d.doc_id
""",
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode, oracle-gated (the audio twin of the pixel
    stats): per doc, an integer-PCM WAV is encoded from the
    deterministic sample formula ``s(k) = (doc_id*7919 + 131k) %
    65536 - 32768`` (functions/wav.py; 16-bit, mono/stereo and three
    sample rates by doc_id), decoded back by audio_amplitude_stats
    into exact integer amplitude stats. The DuckDB twin computes the
    same stats straight from the formula — it never sees a WAV, so a
    hash match proves RIFF parsing, PCM width handling and channel
    de-interleaving end-to-end. Both codec halves are Arrow-batched
    map-only stages; payloads never shuffle."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import wav
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def mk(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                d = int(d)
                n, ch = 64 + d % 33, 1 + d % 2
                rate = 8000 + (d % 3) * 4000
                k = np.arange(n * ch, dtype=np.int64)
                s = (d * 7919 + k * 131) % 65536 - 32768
                payloads.append(
                    wav.encode(s.reshape(n, ch), sample_rate=rate, width=2)
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    return M.audio_amplitude_stats(media, "payload", "doc_id")


@register(
    "multimodal_gif_pixel_stats",
    """
SELECT d.doc_id,
       CAST(6 + d.doc_id % 5 AS BIGINT) AS width,
       CAST(5 + d.doc_id % 4 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS n_channels,
       CAST(SUM(((d.doc_id * 13 + t.k * 7) % 32 * 31) % 256
              + ((d.doc_id * 13 + t.k * 7) % 32 * 57) % 256
              + ((d.doc_id * 13 + t.k * 7) % 32 * 89) % 256) AS BIGINT)
         AS sum_pixel,
       CAST(MIN(LEAST(((d.doc_id * 13 + t.k * 7) % 32 * 31) % 256,
                      ((d.doc_id * 13 + t.k * 7) % 32 * 57) % 256,
                      ((d.doc_id * 13 + t.k * 7) % 32 * 89) % 256)) AS BIGINT)
         AS min_pixel,
       CAST(MAX(GREATEST(((d.doc_id * 13 + t.k * 7) % 32 * 31) % 256,
                         ((d.doc_id * 13 + t.k * 7) % 32 * 57) % 256,
                         ((d.doc_id * 13 + t.k * 7) % 32 * 89) % 256)) AS BIGINT)
         AS max_pixel
FROM documents d,
     LATERAL (SELECT unnest(range(0,
         (6 + d.doc_id % 5) * (5 + d.doc_id % 4))) AS k) t
GROUP BY d.doc_id
""",
)
def multimodal_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, oracle-gated (the LZW leg of the image codec
    family): per doc, a 32-color palette GIF is encoded from the
    deterministic index formula ``idx(k) = (13*doc_id + 7k) % 32``
    with palette channel i -> (idx*31, idx*57, idx*89) % 256
    (functions/gif.py), decoded back via image_pixel_stats. GIF is
    LOSSLESS, so the stats must be BIT-EXACT; the DuckDB twin
    computes them from the formula without ever seeing a GIF — a
    hash match proves LZW decompression, sub-block reassembly and
    palette mapping end-to-end."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import gif
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    i = np.arange(32, dtype=np.int64)
    pal = np.stack([(i * 31) % 256, (i * 57) % 256, (i * 89) % 256], 1).astype(
        np.uint8
    )

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4).
        memo: dict = {}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                d = int(d)
                w, h = 6 + d % 5, 5 + d % 4
                k = np.arange(w * h, dtype=np.int64)
                idx = ((d * 13 + k * 7) % 32).astype(np.uint8).reshape(h, w)
                key = (w, h, idx.tobytes())
                p = memo.get(key)
                if p is None:
                    p = gif.encode(idx, palette=pal)
                    if len(memo) < 65536:
                        memo[key] = p
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    return M.image_pixel_stats(media, "payload", "doc_id")


@register(
    "multimodal_decode_coverage",
    """
SELECT CASE doc_id % 6
         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
         WHEN 3 THEN 'wav' ELSE 'gated' END AS codec,
       COUNT(*) AS n_payloads,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM documents GROUP BY 1
""",
)
def multimodal_decode_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level decoded-vs-gated coverage audit (VERDICT r5 #6).

    Builds a mixed media corpus — by doc_id % 6: a real PNG, a real
    baseline JPEG (flat q=1), a real GIF, a real 16-bit PCM WAV, an
    opaque non-media blob, and a CORRUPT jpeg-magic blob — and runs
    ``decode_status`` to classify each payload by which codec actually
    decoded it. The DuckDB twin computes the expected buckets from the
    doc_id arithmetic alone (it never sees a payload), with per-bucket
    doc_id sums pinning the exact membership. A silent codec
    regression in EITHER direction — a decoder starting to reject
    valid baselines (rows leak from their codec bucket into 'gated')
    or starting to accept corrupt blobs (rows leak out of 'gated') —
    hash-mismatches this oracle."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import gif, jpeg, png, wav
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    i = np.arange(32, dtype=np.int64)
    pal = np.stack([(i * 31) % 256, (i * 57) % 256, (i * 89) % 256], 1).astype(
        np.uint8
    )

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4): the
        # png/jpeg/gif families repeat with small content periods.
        memo: dict = {}

        def enc(key, fn):
            p = memo.get(key)
            if p is None:
                p = fn()
                if len(memo) < 65536:
                    memo[key] = p
            return p

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                d = int(d)
                fam = d % 6
                if fam == 0:
                    k = np.arange(48, dtype=np.int64)
                    img = ((d * 31 + 7 * k) % 256).astype(np.uint8).reshape(6, 8)
                    payloads.append(
                        enc((0, img.tobytes()), lambda: png.encode(img))
                    )
                elif fam == 1:
                    img = np.full((8, 8, 1), (d * 37) % 256, dtype=np.uint8)
                    payloads.append(
                        enc(
                            (1, img.tobytes()),
                            lambda: jpeg.encode(img, qluma=1),
                        )
                    )
                elif fam == 2:
                    k = np.arange(30, dtype=np.int64)
                    idx = ((d * 13 + 7 * k) % 32).astype(np.uint8).reshape(5, 6)
                    payloads.append(
                        enc(
                            (2, idx.tobytes()),
                            lambda: gif.encode(idx, palette=pal),
                        )
                    )
                elif fam == 3:
                    k = np.arange(64, dtype=np.int64)
                    s = (d * 7919 + k * 131) % 65536 - 32768
                    payloads.append(
                        wav.encode(s.reshape(64, 1), sample_rate=8000, width=2)
                    )
                elif fam == 4:
                    payloads.append(f"opaque-blob-{d}".encode())
                else:
                    # jpeg magic + garbage: must be REJECTED (gated),
                    # never half-decoded
                    payloads.append(
                        b"\xff\xd8\xff\xe0" + (d * 2654435761 % 2**32).to_bytes(4, "big") * 4
                    )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    status = M.decode_status(media, "payload", "doc_id")
    return status.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "multimodal_video_frame_stats",
    """
WITH kept AS (
  SELECT d.doc_id, f.f AS frame_index,
         CAST(2 + d.doc_id % 4 AS BIGINT) AS n_frames
  FROM documents d,
       LATERAL (SELECT unnest(range(0, 2 + d.doc_id % 4, 2)) AS f) f
)
SELECT k.doc_id, CAST(k.frame_index AS BIGINT) AS frame_index, k.n_frames,
       CAST(SUM(((k.doc_id * 13 + k.frame_index * 17 + t.k * 7) % 32 * 31) % 256
              + ((k.doc_id * 13 + k.frame_index * 17 + t.k * 7) % 32 * 57) % 256
              + ((k.doc_id * 13 + k.frame_index * 17 + t.k * 7) % 32 * 89) % 256)
            AS BIGINT) AS sum_pixel,
       CAST(MAX(GREATEST(
              ((k.doc_id * 13 + k.frame_index * 17 + t.k * 7) % 32 * 31) % 256,
              ((k.doc_id * 13 + k.frame_index * 17 + t.k * 7) % 32 * 57) % 256,
              ((k.doc_id * 13 + k.frame_index * 17 + t.k * 7) % 32 * 89) % 256))
            AS BIGINT) AS max_pixel
FROM kept k,
     LATERAL (SELECT unnest(range(0,
         (6 + k.doc_id % 3) * (4 + k.doc_id % 3))) AS k) t
GROUP BY k.doc_id, k.frame_index, k.n_frames
""",
)
def multimodal_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling over animated media, oracle-gated: per doc
    an animated GIF (2-5 full frames, functions/gif.py) is encoded
    from the deterministic per-frame index formula ``idx(k, f) =
    (13*doc_id + 17f + 7k) % 32``; sample_video_frames decodes the
    sequence and keeps every 2nd frame with exact integer pixel
    stats. GIF is lossless so the stats must be BIT-EXACT; the DuckDB
    twin enumerates (doc, kept frame, pixel) from the formula without
    ever seeing a GIF — proving multi-frame LZW decode and in-worker
    frame selection end-to-end. Skipped frames never leave the map
    stage."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import gif
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    i = np.arange(32, dtype=np.int64)
    pal = np.stack([(i * 31) % 256, (i * 57) % 256, (i * 89) % 256], 1).astype(
        np.uint8
    )

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4): the
        # formula animation repeats exactly across doc ids, so
        # identical rendered frames encode once per task (rendering is
        # a numpy expression; the LZW encode is the Python cost).
        memo: dict = {}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                d = int(d)
                w, h = 6 + d % 3, 4 + d % 3
                nf = 2 + d % 4
                k = np.arange(w * h, dtype=np.int64)
                frames = [
                    ((d * 13 + f * 17 + k * 7) % 32)
                    .astype(np.uint8)
                    .reshape(h, w)
                    for f in range(nf)
                ]
                key = (w, h, nf, b"".join(f.tobytes() for f in frames))
                p = memo.get(key)
                if p is None:
                    p = gif.encode_frames(frames, pal)
                    if len(memo) < 65536:
                        memo[key] = p
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    return M.sample_video_frames(media, "payload", "doc_id", every_n=2)


@register(
    "hard_negative_pairs",
    f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({V.duck_cosine('c.embedding', 'q.embedding')}, 6) AS cosine
  FROM e q JOIN e c ON c.label <> q.label
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training prep): per vector,
    the 5 most cosine-similar vectors with a DIFFERENT label — the
    near-miss negatives an embedding model learns the most from. The
    label mask runs INSIDE the batched matmul kernel (filtering after
    a plain top-k would under-fill queries whose neighbors share
    their label); only k rows per (query, batch) reach the merge
    window. The DuckDB twin ranks the exact all-pairs cosines, so a
    hash match certifies kernel + mask + ranking. EXACT all-pairs
    mining is inherently quadratic and the query side is broadcast:
    past MAX_QUERY_ROWS the operator raises AnnQueryGuardError by
    design — corpus-sized runs use hard_negative_pairs_lsh."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.hard_negative_topk(emb, "vec_id", "embedding", "label", k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_hard_negative_oracle(
    n_planes: int = 4, n_tables: int = 12, dim: int = 64, k: int = 5
) -> str:
    """DuckDB twin of lsh_hard_negative_topk: identical md5-derived
    hyperplane buckets, different-label candidates sharing >=1 table
    bucket, exact cosine rerank. (The twin ranks ALL bucket
    candidates; the Spark kernel's per-bucket top-k truncation uses
    the same (cosine desc, id asc) order, so the compositions agree
    row-for-row.)"""
    per_table = [
        f"SELECT vec_id, {t} AS t, "
        f"{V.duck_sign_bucket('embedding', V.hyperplanes(n_planes, dim, seed=f't{t}'))} AS b "
        "FROM e"
        for t in range(n_tables)
    ]
    union = "\n  UNION ALL ".join(per_table)
    return f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
sg AS ({union}),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
  FROM sg qs JOIN sg cs ON qs.t = cs.t AND qs.b = cs.b
                       AND qs.vec_id <> cs.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND({V.duck_cosine('n.embedding', 'q.embedding')}, 6) AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
  WHERE n.label <> q.label
)
SELECT query_id, neighbor_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


@register("hard_negative_pairs_lsh", _lsh_hard_negative_oracle())
def hard_negative_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-free hard-negative mining (the corpus-scale path, r8
    verdict #5): per vector, the top-5 most cosine-similar
    DIFFERENT-label vectors among multi-table sign-LSH bucket
    candidates — where the exact miner's query-broadcast guard trips
    by design, this one shuffles (table, bucket)-keyed rows and emits
    per-bucket top-k only. Deterministic hyperplanes make the
    approximation engine-reproducible, so the full bucket scheme is
    hash-gated against its SQL twin."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.lsh_hard_negative_topk(
        emb, "vec_id", "embedding", "label", k=5, n_planes=4, n_tables=12
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_hn_auto_oracle(
    target: int = 64, n_tables: int = 2, dim: int = 64, k: int = 5,
    np_max: int = 7,
) -> str:
    """DuckDB twin of lsh_hard_negative_topk(target_bucket_rows=...):
    replays the ENGINE'S plane derivation as a pure integer count
    ladder — branch ``p`` is active iff the distinct-corpus count
    lands in ``(2^(p-1)*target, 2^p*target]`` (exactly
    ``derive_lsh_planes``'s ceil-div + bit_length arithmetic, no
    floats) — then runs the full bucket/candidate/rerank pipeline at
    that plane count. Branches beyond ``np_max`` (count > 2^np_max *
    target) are not generated; the correctness gate runs at
    sf0.001-0.1 where counts are 500-2000, well inside."""
    ctes = [
        "e AS (SELECT vec_id, embedding, label FROM embeddings "
        "WHERE label IS NOT NULL)",
        "n AS (SELECT COUNT(*) AS cnt FROM "
        "(SELECT DISTINCT label, embedding FROM e))",
    ]
    branches = []
    for p in range(1, np_max + 1):
        per_table = [
            f"SELECT vec_id, {t} AS t, "
            f"{V.duck_sign_bucket('embedding', V.hyperplanes(p, dim, seed=f't{t}'))} AS b "
            "FROM e"
            for t in range(n_tables)
        ]
        ctes.append(f"sg{p} AS ({'  UNION ALL '.join(per_table)})")
        ctes.append(f"""r{p} AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id)
              AS BIGINT) AS rank
  FROM (
    SELECT c.query_id, c.neighbor_id,
           ROUND({V.duck_cosine('nb.embedding', 'q.embedding')}, 6) AS cosine
    FROM (
      SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS neighbor_id
      FROM sg{p} qs JOIN sg{p} cs ON qs.t = cs.t AND qs.b = cs.b
                                 AND qs.vec_id <> cs.vec_id
    ) c
    JOIN e q ON q.vec_id = c.query_id
    JOIN e nb ON nb.vec_id = c.neighbor_id
    WHERE nb.label <> q.label
  )
)""")
        lo = (1 << (p - 1)) * target if p > 1 else 0
        hi = (1 << p) * target
        branches.append(
            f"SELECT query_id, neighbor_id, cosine, rank FROM r{p} "
            f"WHERE rank <= {k} AND (SELECT cnt FROM n) > {lo} "
            f"AND (SELECT cnt FROM n) <= {hi}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(branches)
    )


@register("hard_negative_pairs_lsh_auto", _lsh_hn_auto_oracle())
def hard_negative_pairs_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining with ENGINE-DERIVED LSH resolution (r10,
    r9 verdict #3): ``target_bucket_rows=64`` makes the miner size its
    own plane count from one memoized distinct-corpus count
    (``derive_lsh_planes``: integer ceil-div + bit_length), so bucket
    population stays ~``target`` as the corpus grows instead of
    degrading quadratically at a fixed resolution — 500 vectors at
    sf0.01 derive 3 planes, 2000 at sf0.1 derive 5, both hash-gated
    against a twin that replays the SAME integer ladder with SQL
    count-range guards. ``n_tables=2`` keeps the multi-table recall
    dimension exercised while the derivation (the thing under test
    here) stays the variable."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = S.lsh_hard_negative_topk(
        emb, "vec_id", "embedding", "label", k=5, n_tables=2,
        target_bucket_rows=64,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "lsh_dedup_quality_report",
    f"""
WITH s1 AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), exact AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s1 a JOIN s1 b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sig AS (
  SELECT doc_id, sh, {X.duck_minhash_signature('sh')} AS sg FROM s1
), banded AS (
  {_duck_minhash_banded_sql()}
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey
  WHERE x.doc_id < y.doc_id
), lsh AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b, {_DUCK_JACCARD} AS jaccard
    FROM cand c JOIN s1 a ON a.doc_id = c.id_a JOIN s1 b ON b.doc_id = c.id_b
  ) WHERE jaccard >= 0.5
), u AS (
  SELECT COALESCE(e.id_a, l.id_a) AS id_a,
         (e.id_a IS NOT NULL)::INT AS in_exact,
         (l.id_a IS NOT NULL)::INT AS in_lsh
  FROM exact e FULL OUTER JOIN lsh l
    ON e.id_a = l.id_a AND e.id_b = l.id_b
)
SELECT CAST(SUM(in_exact) AS BIGINT) AS n_exact,
       CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
       CAST(SUM(in_exact * in_lsh) AS BIGINT) AS n_common,
       ROUND(CASE WHEN SUM(in_exact) = 0 THEN 1.0
             ELSE SUM(in_exact * in_lsh) * 1.0 / SUM(in_exact) END, 6)
         AS recall,
       ROUND(CASE WHEN SUM(in_lsh) = 0 THEN 1.0
             ELSE SUM(in_exact * in_lsh) * 1.0 / SUM(in_lsh) END, 6)
         AS precision
FROM u
""",
)
def lsh_dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures the MinHash-LSH dedup approximation itself (the dedup
    twin of ann_recall_report): exact 3-gram-Jaccard pairs >= 0.5 vs
    the banded-LSH candidate pipeline's verified pairs, reporting
    counts + recall/precision. Both engines compute BOTH pipelines,
    so the hash gate certifies the measured recall number, not just
    the pair lists. (Precision is 1.0 by construction — LSH
    candidates are jaccard-verified — and the report proves it.)"""
    docs = read_table(spark, sf_dir, "documents")
    exact = D.near_dup_member_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    lsh = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, bands=4, threshold=0.5
    )
    e = exact.select("id_a", "id_b", F.lit(1).alias("in_exact"))
    l_ = lsh.select("id_a", "id_b", F.lit(1).alias("in_lsh"))
    u = e.join(l_, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_exact", F.lit(0)).alias("in_exact"),
        F.coalesce("in_lsh", F.lit(0)).alias("in_lsh"),
    )
    common = F.sum(F.col("in_exact") * F.col("in_lsh"))
    return u.agg(
        F.sum("in_exact").cast("long").alias("n_exact"),
        F.sum("in_lsh").cast("long").alias("n_lsh"),
        common.cast("long").alias("n_common"),
        F.round(
            F.when(F.sum("in_exact") == 0, F.lit(1.0)).otherwise(
                common / F.sum("in_exact")
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.sum("in_lsh") == 0, F.lit(1.0)).otherwise(
                common / F.sum("in_lsh")
            ),
            6,
        ).alias("precision"),
    )


@register(
    "balanced_label_sample",
    """
WITH s AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
m AS (SELECT MIN(n) AS mn FROM s),
p AS (
  SELECT label,
         LEAST(10000, CAST(ROUND(CAST(mn AS DOUBLE) / n * 10000) AS BIGINT))
           AS keep_bp
  FROM s, m
)
SELECT CAST(e.label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(p.keep_bp) AS keep_bp
FROM embeddings e JOIN p ON e.label = p.label
WHERE CAST(('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)), 1, 12))
           AS BIGINT) % 10000 < p.keep_bp
GROUP BY 1
""",
)
def balanced_label_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing (downsample every label toward
    the minority count): per-label keep probability min/n in basis
    points, md5-threshold acceptance — stable per id, zero data
    shuffles beyond the #labels stats aggregate. Reported as
    per-label kept counts + thresholds so the hash gate certifies
    both the probabilities and the acceptance set."""
    from feast_hive_spark.operators.curate import balance_classes

    emb = read_table(spark, sf_dir, "embeddings")
    kept = balance_classes(emb, "label", "vec_id", keep_col="keep_bp")
    return kept.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("keep_bp").alias("keep_bp"),
    )


@register(
    "near_dup_cluster_histogram",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
  ) SELECT * FROM r
), comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
  FROM reach GROUP BY src
), sizes AS (
  SELECT component_id, COUNT(*) AS sz FROM comp GROUP BY 1
), tot AS (SELECT SUM(sz) AS t FROM sizes)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       ROUND(sz * COUNT(*) * 1.0 / tot.t, 6) AS share_of_nodes
FROM sizes, tot
GROUP BY sz, tot.t
""",
)
def near_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph — the
    dedup-health report (a fat head of giant boilerplate clusters
    means aggressive canonicalization will shrink the corpus; a long
    tail of pairs means light trimming). Components via the
    distributed star contraction; the histogram is two tiny
    aggregates over cluster-sized rows. The twin recomputes the
    fixpoint via recursive CTE."""
    from feast_hive_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    comp = D.connected_components_collapsed(docs, "doc_id", "text").select(
        "doc_id", "component_id"
    )
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("sz"))
    tot = sizes.agg(F.sum("sz").alias("t"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long"),
            F.round(
                F.col("sz") * F.col("n_clusters") / F.col("t"), 6
            ).alias("share_of_nodes"),
        )
    )


@register(
    "near_dup_degree_histogram",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT id_a AS doc_id FROM pairs
    UNION ALL SELECT id_b FROM pairs
  ) GROUP BY doc_id
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree
""",
)
def near_dup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph — the sibling
    of the cluster histogram that predicts contraction behavior (a
    fat-degree head means the star rounds converge in O(1); a long
    chain-like tail means more rounds). One pair-sized union +
    count aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.near_dup_member_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    # endpoint explode instead of a 2-arm unionAll (r13, §2.4): the
    # union re-executed the bundle-expansion joins once per arm; the
    # explode runs them ONCE and emits both endpoints per pair
    deg = (
        pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.col("degree").cast("long"), F.col("n_docs").cast("long")
    )


@register(
    "dup_source_breakdown",
    """
WITH g AS (
  SELECT md5(text) AS fp,
         COUNT(*) AS n,
         COUNT(DISTINCT source) AS n_sources
  FROM documents GROUP BY md5(text)
)
SELECT CASE WHEN n = 1 THEN 'unique'
            WHEN n_sources = 1 THEN 'dup_within_source'
            ELSE 'dup_cross_source' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(n - 1) AS BIGINT) AS n_removable
FROM g GROUP BY 1
""",
)
def dup_source_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where exact duplicates live: within one source (a crawler
    re-fetching itself — fix the pipeline) vs across sources
    (mirrors/syndication — dedup globally). Groups by content md5
    with per-group distinct-source counts; 16-byte fingerprints are
    all that shuffles, and n_removable is the doc count dedup would
    reclaim per class."""
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("source").alias("n_sources"),
    )
    kind = (
        F.when(F.col("n") == 1, F.lit("unique"))
        .when(F.col("n_sources") == 1, F.lit("dup_within_source"))
        .otherwise(F.lit("dup_cross_source"))
    )
    return g.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n") - 1).cast("long").alias("n_removable"),
    )


_PQ_M = 32
_PQ_CODES = 64
_PQ_K = 5
_PQ_SUB = 2  # 64-dim embeddings / m


def _pq_oracle() -> str:
    """DuckDB twin of pq_adc_topk over the md5-ordered seed codebook:
    normalization, per-subspace argmax encoding (ties to lowest code),
    micro-unit LUT rounding, and the integer ADC sum are all
    deterministic — the SUM of BIGINT micro lookups is order-free, so
    the approximate scores hash-match exactly."""
    def sl(v, s=f"sb.s"):
        return f"{v}[({s} * {_PQ_SUB} + 1):(({s} + 1) * {_PQ_SUB})]"

    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {V.duck_norm('embedding')}) AS v
  FROM e
),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         v AS cv
  FROM nv
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {_PQ_CODES}
),
subs AS (SELECT unnest(range({_PQ_M})) AS s),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT n.vec_id, sb.s, c.cid,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id, sb.s
               ORDER BY {V.duck_dot(sl('n.v'), sl('c.cv'))} DESC, c.cid) AS r
    FROM nv n CROSS JOIN subs sb CROSS JOIN cent c
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM nv WHERE vec_id < 8),
lut AS (
  SELECT q.query_id, sb.s, c.cid,
         CAST(ROUND({V.duck_dot(sl('q.qv'), sl('c.cv'))} * 1000000) AS BIGINT) AS micro
  FROM q CROSS JOIN subs sb CROSS JOIN cent c
),
approx AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(l.micro) AS BIGINT) AS approx_micro
  FROM codes cd JOIN lut l ON l.s = cd.s AND l.cid = cd.cid
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_micro,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY approx_micro DESC, neighbor_id) AS BIGINT) AS rank
FROM approx
QUALIFY rank <= {_PQ_K}
"""


@register("ann_pq_adc_topk", _pq_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (operators/simsearch.pq_adc_topk): candidates compress to m=32
    sub-space codes (~10x smaller than the 64 float32 dims at 6-bit
    codes; coarser m trades recall for compression), queries score
    via integer micro-unit LUT sums. The md5-seeded codebook keeps
    the ENTIRE index — seeds, encoding, LUT, ADC ranking —
    SQL-expressible, so the hash gate certifies the approximate
    scores themselves, not just their shape."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.pq_adc_topk(
        emb, queries, "vec_id", "embedding",
        k=_PQ_K, m=_PQ_M, n_codes=_PQ_CODES,
    )


_IVFPQ_LISTS = 16
_IVFPQ_PROBE = 4


def _ivfpq_oracle() -> str:
    """DuckDB twin of ivfpq_topk: the IVF twin's cent/assign/qprobe
    CTEs composed with the PQ twin's codes/LUT CTEs — candidates are
    restricted to probed lists, scored by the integer ADC sum. Every
    stage is deterministic, so the composed approximate ranking
    hash-matches."""
    def sl(v):
        return f"{v}[(sb.s * {_PQ_SUB} + 1):((sb.s + 1) * {_PQ_SUB})]"

    return f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / {V.duck_norm('embedding')}) AS v
  FROM e
),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         v AS cv
  FROM nv
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {_IVFPQ_LISTS}
),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS code_id,
         v AS bv
  FROM nv
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {_PQ_CODES}
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT n.vec_id, ct.cid,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
               ORDER BY {V.duck_dot('n.v', 'ct.cv')} DESC, ct.cid) AS r
    FROM nv n CROSS JOIN cent ct
  ) WHERE r = 1
),
subs AS (SELECT unnest(range({_PQ_M})) AS s),
codes AS (
  SELECT vec_id, s, code_id FROM (
    SELECT n.vec_id, sb.s, c.code_id,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id, sb.s
               ORDER BY {V.duck_dot(sl('n.v'), sl('c.bv'))} DESC, c.code_id) AS r
    FROM nv n CROSS JOIN subs sb CROSS JOIN cb c
  ) WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM nv WHERE vec_id < 8),
qprobe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, ct.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY {V.duck_dot('q.qv', 'ct.cv')} DESC, ct.cid) AS r
    FROM q CROSS JOIN cent ct
  ) WHERE r <= {_IVFPQ_PROBE}
),
lut AS (
  SELECT q.query_id, sb.s, c.code_id,
         CAST(ROUND({V.duck_dot(sl('q.qv'), sl('c.bv'))} * 1000000) AS BIGINT) AS micro
  FROM q CROSS JOIN subs sb CROSS JOIN cb c
),
approx AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(l.micro) AS BIGINT) AS approx_micro
  FROM codes cd
  JOIN assign a ON a.vec_id = cd.vec_id
  JOIN qprobe p ON p.cid = a.cid
  JOIN lut l ON l.query_id = p.query_id AND l.s = cd.s AND l.code_id = cd.code_id
  WHERE cd.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_micro,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY approx_micro DESC, neighbor_id) AS BIGINT) AS rank
FROM approx
QUALIFY rank <= {_PQ_K}
"""


@register("ann_ivfpq_topk", _ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (operators/simsearch.ivfpq_topk): the
    billion-vector production layout — coarse lists restrict the
    candidate set (~n_probe/n_lists of the corpus per query), PQ
    codes score it with integer LUT sums, and no float vector ever
    shuffles. Both quantizers are md5-seeded, so the composed
    approximate ranking is certified end-to-end by the hash gate."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return S.ivfpq_topk(
        emb, queries, "vec_id", "embedding",
        k=_PQ_K, n_lists=_IVFPQ_LISTS, n_probe=_IVFPQ_PROBE,
        m=_PQ_M, n_codes=_PQ_CODES,
    )


_RSZ_W = 4
_RSZ_H = 4


@register(
    "multimodal_resize_stats",
    f"""
SELECT d.doc_id,
       CAST({_RSZ_W} AS BIGINT) AS width,
       CAST({_RSZ_H} AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(SUM((d.doc_id * 31
                 + 7 * (((gy.y * (6 + d.doc_id % 4)) // {_RSZ_H}) * (8 + d.doc_id % 5)
                        + ((gx.x * (8 + d.doc_id % 5)) // {_RSZ_W}))) % 256) AS BIGINT) AS sum_pixel,
       CAST(MIN((d.doc_id * 31
                 + 7 * (((gy.y * (6 + d.doc_id % 4)) // {_RSZ_H}) * (8 + d.doc_id % 5)
                        + ((gx.x * (8 + d.doc_id % 5)) // {_RSZ_W}))) % 256) AS BIGINT) AS min_pixel,
       CAST(MAX((d.doc_id * 31
                 + 7 * (((gy.y * (6 + d.doc_id % 4)) // {_RSZ_H}) * (8 + d.doc_id % 5)
                        + ((gx.x * (8 + d.doc_id % 5)) // {_RSZ_W}))) % 256) AS BIGINT) AS max_pixel
FROM documents d,
     LATERAL (SELECT unnest(range(0, {_RSZ_W})) AS x) gx,
     LATERAL (SELECT unnest(range(0, {_RSZ_H})) AS y) gy
GROUP BY d.doc_id
""",
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL thumbnail pipeline, oracle-gated end-to-end: formula PNG
    -> decode -> nearest-neighbor resize to 4x4 -> re-encode PNG ->
    decode again -> exact integer stats (operators/multimodal.
    resize_images + image_pixel_stats chained). The DuckDB twin
    evaluates the NN index map ``src = (y*H div 4)*W + (x*W div 4)``
    straight on the pixel formula — it never sees a PNG — so a hash
    match proves BOTH codec round trips and the resize sampling are
    pixel-exact. De-stubs the last test-only multimodal path."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import png
    from feast_hive_spark.operators import multimodal as M

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def mk(batches):
        # per-task content-addressed encode memo (r13, guide §4).
        memo: dict = {}
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                w, h = 8 + int(d) % 5, 6 + int(d) % 4
                k = np.arange(w * h, dtype=np.int64)
                img = ((int(d) * 31 + 7 * k) % 256).astype(np.uint8).reshape(h, w)
                key = (w, h, img.tobytes())
                p = memo.get(key)
                if p is None:
                    p = png.encode(img)
                    if len(memo) < 65536:
                        memo[key] = p
                payloads.append(p)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    media = docs.mapInPandas(mk, "doc_id long, payload binary")
    thumbs = M.resize_images(
        media, "payload", "doc_id", width=_RSZ_W, height=_RSZ_H,
        allow_fake=False,
    )
    return M.image_pixel_stats(thumbs, "thumb", "doc_id")


@register(
    "dedup_containment",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
)
SELECT id_small, id_big, containment FROM (
  SELECT a.doc_id AS id_small, b.doc_id AS id_big,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / greatest(len(a.sh), 1), 6) AS containment
  FROM s a JOIN s b ON a.doc_id <> b.doc_id
) WHERE containment >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.
    containment_pairs): |A∩B| / |A| with direction — the quote/
    excerpt detector Jaccard misses (a short doc wholly embedded in a
    long one unions away). Same inverted-index scale shape as the
    Jaccard family; the oracle is the all-pairs formulation."""
    docs = read_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


@register(
    "embedding_quality_audit",
    f"""
WITH n AS (
  SELECT vec_id,
         {V.duck_norm('embedding')} AS nrm,
         len(embedding) AS dim,
         len(list_filter(embedding, x -> x = 0)) AS n_zero,
         len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) AS n_nan
  FROM embeddings
), s AS (
  SELECT quantile_cont(nrm, 0.5) AS med FROM n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim,
       CAST(SUM(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
       CAST(SUM(CASE WHEN nrm > 3 * med THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_outliers,
       CAST(SUM(n_zero) AS BIGINT) AS total_zero_components,
       ROUND(MIN(nrm), 4) AS min_norm,
       ROUND(MAX(nrm), 4) AS max_norm
FROM n, s
""",
)
def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table validation: dimension consistency, NaN and
    zero-vector detection, norm-outlier count (> 3x median norm —
    the scaling-bug smell), zero-component totals. Pure built-in
    array functions (aggregate/filter HOFs) — one scan-wide
    aggregate + a 1-row median broadcast, no Python, certified
    against DuckDB's list kernels."""
    emb = read_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    n = emb.select(
        nrm.alias("nrm"),
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x == 0)).alias("n_zero"),
        F.size(F.filter("embedding", lambda x: F.isnan(x.cast("double")))).alias("n_nan"),
    )
    med = n.agg(F.expr("percentile(nrm, 0.5)").alias("med"))
    return n.crossJoin(F.broadcast(med)).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        F.sum((F.col("n_nan") > 0).cast("long")).alias("n_with_nan"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("n_zero_vectors"),
        F.sum((F.col("nrm") > 3 * F.col("med")).cast("long")).alias(
            "n_norm_outliers"
        ),
        F.sum("n_zero").cast("long").alias("total_zero_components"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


@register(
    "cross_source_dup_matrix",
    f"""
WITH s AS (
  SELECT doc_id, source, {X.duck_shingle_hashes('text')} AS sh FROM documents
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1)
        >= 0.5
)
SELECT least(source_a, source_b) AS src_x,
       greatest(source_a, source_b) AS src_y,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
GROUP BY 1, 2
""",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO copies WHOM: the near-dup pair graph aggregated into a
    source-by-source matrix (within-source pairs on the diagonal,
    cross-source pairs = syndication/scraping between feeds) — the
    provenance view of dedup health that decides which source to
    de-prioritize. Rides the exact inverted-index Jaccard kernel;
    only source labels and counts leave the pair stage."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.near_dup_member_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("source_a"))
    b = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .groupBy(
            F.least("source_a", "source_b").alias("src_x"),
            F.greatest("source_a", "source_b").alias("src_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dedup_savings_report",
    f"""
WITH base AS (
  SELECT doc_id, text,
         CAST({X.duck_token_count_ws('text')} AS BIGINT) AS n_tok
  FROM documents
), exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(text)
), survivors AS (
  SELECT b.doc_id, b.text, b.n_tok FROM base b
  JOIN exact_keep k ON k.doc_id = b.doc_id
), s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM survivors
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
  ) SELECT * FROM r
), comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
  FROM reach GROUP BY src
), near_drop AS (
  SELECT doc_id FROM comp WHERE doc_id <> component_id
), t AS (
  SELECT
    (SELECT COUNT(*) FROM base) AS n_docs,
    (SELECT SUM(n_tok) FROM base) AS n_tokens,
    (SELECT COUNT(*) FROM base) - (SELECT COUNT(*) FROM survivors) AS n_exact_removed,
    (SELECT COALESCE(SUM(b.n_tok), 0) FROM base b
      WHERE b.doc_id NOT IN (SELECT doc_id FROM exact_keep)) AS tok_exact_removed,
    (SELECT COUNT(*) FROM near_drop) AS n_near_removed,
    (SELECT COALESCE(SUM(sv.n_tok), 0) FROM survivors sv
      JOIN near_drop nd ON nd.doc_id = sv.doc_id) AS tok_near_removed
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_exact_removed AS BIGINT) AS n_exact_removed,
       CAST(tok_exact_removed AS BIGINT) AS tok_exact_removed,
       CAST(n_near_removed AS BIGINT) AS n_near_removed,
       CAST(tok_near_removed AS BIGINT) AS tok_near_removed,
       CAST((1000000 * (CAST(tok_exact_removed AS BIGINT)
                        + CAST(tok_near_removed AS BIGINT)))
            // CAST(n_tokens AS BIGINT) AS BIGINT) AS savings_ppm
FROM t
""",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup savings: exact dedup first (md5 groupBy, min
    doc survives), then near-dup clusters over the survivors (3-gram
    Jaccard >= 0.5 -> star components, min-id canonical), and the
    one-row answer every curation review asks for — how many docs and
    TOKENS the full dedup pass reclaims, as exact integer ppm. Every
    stage is the gated operator from its own family; this entry
    certifies their composition."""
    from feast_hive_spark.operators import dedup as DD

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", X.token_count_ws("text").cast("long").alias("n_tok")
    )
    keep = DD.exact_dedup(base, "doc_id", "text").select("doc_id")
    survivors = base.join(keep, "doc_id")
    # r14: survivors carry DISTINCT texts by construction (one min-id
    # doc per md5 class), so the pair generator's exact-collapse
    # pre-pass is provably the identity here — every group is a
    # singleton, the within-group arm is empty and the cross expansion
    # maps reps to themselves. Skipping it drops the md5 groupBy +
    # semi-join + 5 expansion joins from this query's plan (they ran
    # inside the CC probe's single execution), output bit-identical.
    pairs = DD.ngram_jaccard_pairs(
        survivors, "doc_id", "text", n=3, threshold=0.5,
        collapse_exact=False,
    )
    comp = DD.connected_components_star(pairs).select(
        "doc_id", "component_id"
    )
    near_drop = comp.filter(
        F.col("doc_id") != F.col("component_id")
    ).select("doc_id")
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    ex_removed = base.join(keep, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_exact_removed"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tok_exact_removed"),
    )
    nr_removed = survivors.join(near_drop, "doc_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_near_removed"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tok_near_removed"),
    )
    return (
        totals.crossJoin(F.broadcast(ex_removed))
        .crossJoin(F.broadcast(nr_removed))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_exact_removed").cast("long").alias("n_exact_removed"),
            F.col("tok_exact_removed").cast("long").alias("tok_exact_removed"),
            F.col("n_near_removed").cast("long").alias("n_near_removed"),
            F.col("tok_near_removed").cast("long").alias("tok_near_removed"),
            F.expr(
                "(1000000 * (tok_exact_removed + tok_near_removed))"
                " div n_tokens"
            ).alias("savings_ppm"),
        )
    )


# ---------------------------------------------------------------------
# k-means + SemDeDup (r6)
# ---------------------------------------------------------------------

_KM_K = 4
_KM_ITERS = 2


def _km_cte(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unrolled Lloyd's-iteration CTE prefix shared by the k-means
    oracles: micro-unit integer arithmetic, hash seeding, floor-divided
    centroids, (dist, cluster)-ordered argmin — the exact recipe of
    operators/simsearch.py:kmeans_assign, so the hash gate certifies
    every round."""
    parts = [
        """xm AS (
  SELECT vec_id, i AS pos,
         CAST(ROUND(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS vm
  FROM embeddings, range(0, 64) r(i) WHERE i < len(embedding)
)""",
        f"""a0 AS (
  SELECT vec_id,
         CAST(('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT) % {k} AS c,
         CAST(0 AS BIGINT) AS d
  FROM embeddings
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""c{t} AS (
  SELECT a.c, x.pos,
         CAST(FLOOR(CAST(SUM(x.vm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
  FROM xm x JOIN a{t-1} a USING (vec_id) GROUP BY a.c, x.pos
)""",
        )
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, c, d FROM (
    SELECT x.vec_id, c.c,
           SUM((x.vm - c.cm) * (x.vm - c.cm)) AS d,
           ROW_NUMBER() OVER (
             PARTITION BY x.vec_id
             ORDER BY SUM((x.vm - c.cm) * (x.vm - c.cm)), c.c) AS rn
    FROM xm x JOIN c{t} c ON x.pos = c.pos
    GROUP BY x.vec_id, c.c
  ) WHERE rn = 1
)""",
        )
    return ",\n".join(parts)


@register(
    "kmeans_embedding_clusters",
    f"""
WITH {_km_cte()}
SELECT CAST(c AS BIGINT) AS cluster, COUNT(*) AS n,
       CAST(SUM(d) AS BIGINT) AS inertia
FROM a{_KM_ITERS} GROUP BY c
""",
)
def kmeans_embedding_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed Lloyd's k-means (k=4, 2 rounds) over the embedding
    corpus: per-round state is k x dim centroid longs on the driver,
    every corpus-sized step is a map-only scan against broadcast
    centroid literals + a k*dim-key aggregate — the 100 TB shape. The
    oracle unrolls both rounds in SQL, so the hash gate certifies
    seeding, centroid arithmetic, and every argmin tie-break
    (operators/simsearch.py:kmeans_assign)."""
    from feast_hive_spark.operators.simsearch import kmeans_report

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_report(
        emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS
    )


@register(
    "semdedup_embedding_report",
    f"""
WITH {_km_cte()},
pairs AS (
  SELECT ax.c AS cluster, x.vec_id AS id_a, y.vec_id AS id_b
  FROM embeddings x
  JOIN a{_KM_ITERS} ax ON ax.vec_id = x.vec_id
  JOIN a{_KM_ITERS} ay ON ay.c = ax.c
  JOIN embeddings y ON y.vec_id = ay.vec_id AND x.vec_id < y.vec_id
  WHERE ROUND({V.duck_cosine('x.embedding', 'y.embedding')}, 6) >= 0.45
),
stats AS (
  SELECT cluster, COUNT(*) AS n_pairs, COUNT(DISTINCT id_b) AS n_removed
  FROM pairs GROUP BY cluster
),
sizes AS (
  SELECT c AS cluster, COUNT(*) AS n_vectors FROM a{_KM_ITERS} GROUP BY c
)
SELECT CAST(s.cluster AS BIGINT) AS cluster,
       CAST(s.n_vectors AS BIGINT) AS n_vectors,
       CAST(COALESCE(st.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(st.n_removed, 0) AS BIGINT) AS n_removed
FROM sizes s LEFT JOIN stats st ON st.cluster = s.cluster
""",
)
def semdedup_embedding_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup: k-means clusters bound the quadratic near-dup search
    — pair generation is keyed by cluster, so per-task cost is
    O(cluster_size^2), tunable via k at scale; cross-cluster pairs are
    sacrificed by design (the method's documented recall trade).
    Reports per-cluster member/pair/greedy-removal counts
    (operators/simsearch.py:semdedup_report)."""
    from feast_hive_spark.operators.simsearch import semdedup_report

    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_report(
        emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS,
        threshold=0.45,
    )


# ---------------------------------------------------------------------
# Winnowing fingerprints (r6)
# ---------------------------------------------------------------------

_WINNOW_CTE = f"""tok AS (
  SELECT doc_id, {X.duck_words('text')} AS w FROM documents
),
wsh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {X.duck_h48("w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]")} AS h
  FROM tok, UNNEST(range(0, greatest(len(w) - 2, 0))) AS r(i)
),
wwin AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
  FROM wsh
),
wfp AS (
  SELECT DISTINCT doc_id, mh AS fph FROM wwin WHERE c = 4 OR pos = 0
)"""


@register(
    "winnowing_fingerprint_stats",
    f"""
WITH {_WINNOW_CTE}
SELECT (SELECT COUNT(DISTINCT doc_id) FROM wfp) AS n_docs,
       (SELECT COUNT(*) FROM wsh) AS n_shingles,
       (SELECT COUNT(*) FROM wfp) AS n_fingerprints,
       (SELECT COUNT(DISTINCT fph) FROM wfp) AS n_distinct_fph
""",
)
def winnowing_fingerprint_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing compression readout: fingerprints selected vs raw
    shingles (~2/(w+1) by the MOSS density bound) — the index-size
    planning number for fingerprint-based dedup
    (operators/dedup.py:winnowing_fingerprints)."""
    from feast_hive_spark.operators.dedup import winnowing_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    fp = winnowing_fingerprints(docs, "doc_id", "text", n=3, window=4)
    toks = docs.select(X.words("text").alias("__w"))
    # n_docs folds into the token scan: every doc with >= n tokens
    # keeps its pos-0 window row, so COUNT(DISTINCT doc_id) over the
    # fingerprint table == count of docs with >= 1 shingle. Dropping
    # the doc_id distinct leaves ONE distinct aggregate on fp, so
    # Catalyst's multi-distinct Expand (3x the fingerprint rows
    # through the exchange) disappears (r13, guide §2.3).
    n_sh = toks.select(
        F.sum(
            F.when(F.size("__w") >= 3, F.size("__w") - 2).otherwise(0)
        ).alias("n_shingles"),
        F.sum(
            F.when(F.size("__w") >= 3, 1).otherwise(0)
        ).alias("n_docs"),
    )
    stats = fp.agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.countDistinct("fph").cast("long").alias("n_distinct_fph"),
    )
    return stats.crossJoin(F.broadcast(n_sh)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "n_fingerprints",
        "n_distinct_fph",
    )


@register(
    "winnowing_overlap_pairs",
    f"""
WITH {_WINNOW_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM wfp a JOIN wfp b ON a.fph = b.fph AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
""",
)
def winnowing_overlap_pairs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-doc overlap candidates via the winnowed inverted index —
    same detection guarantee as the full shingle index at ~2.5x less
    index (operators/dedup.py:winnowing_overlap_pairs). Exact mode
    (``max_doc_freq=None``) so the twin certifies the uncapped
    semantics; the production default is the capped path below."""
    from feast_hive_spark.operators.dedup import winnowing_overlap_pairs

    docs = read_table(spark, sf_dir, "documents")
    return winnowing_overlap_pairs(
        docs, "doc_id", "text", n=3, window=4, min_shared=2,
        max_doc_freq=None,
    )


@register(
    "winnowing_overlap_pairs_capped",
    f"""
WITH {_WINNOW_CTE},
wdf AS (
  SELECT fph FROM wfp GROUP BY fph HAVING COUNT(*) <= 4
),
wkeep AS (
  SELECT w.doc_id, w.fph FROM wfp w JOIN wdf USING (fph)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM wkeep a JOIN wkeep b ON a.fph = b.fph AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
""",
)
def winnowing_overlap_pairs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production winnowing pair join: document-frequency cap on
    fingerprints BEFORE the inverted self-join (r6 verdict #1 — the
    last default-path pair explosion). A fingerprint in d docs costs
    d^2 join rows; corpus-wide boilerplate (headers/footers) is
    guaranteed in a real crawl, so the default path must drop hot
    fingerprints. cap=4 here so the oracle actually exercises the
    anti-join at sf0.01 (25 hot fingerprints) and sf0.001 (35)
    (operators/dedup.py:winnowing_overlap_pairs)."""
    from feast_hive_spark.operators.dedup import winnowing_overlap_pairs

    docs = read_table(spark, sf_dir, "documents")
    return winnowing_overlap_pairs(
        docs, "doc_id", "text", n=3, window=4, min_shared=2,
        max_doc_freq=4,
    )


def _lpa_sql(iters: int = 3) -> str:
    """Chained-CTE twin of operators/graph.label_propagation on the
    ngram-Jaccard pair graph — one CTE per synchronous round,
    identical mode-argmax tie-breaks ((count DESC, label ASC))."""
    sql = [
        f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), prs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_DUCK_JACCARD} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id_a AS src, id_b AS dst FROM prs
    UNION ALL SELECT id_b, id_a FROM prs
  ) WHERE src <> dst
), l0 AS (
  SELECT DISTINCT src AS node, src AS lbl FROM sym
)"""
    ]
    prev = "l0"
    for k in range(1, iters + 1):
        sql.append(
            f""", l{k} AS (
  SELECT node, lbl FROM (
    SELECT e.dst AS node, p.lbl AS lbl,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
    FROM sym e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst, p.lbl
  ) WHERE rn = 1
)"""
        )
        prev = f"l{k}"
    sql.append(
        f"\nSELECT node AS doc_id, lbl AS community FROM {prev}"
    )
    return "".join(sql)


@register("label_propagation_communities", _lpa_sql())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synchronous mode-based label propagation (3 rounds,
    deterministic tie-breaks) over the near-dup pair graph — dense
    communities INSIDE the connected components, fully lazy, shuffles
    sized to the graph (operators/graph.py:label_propagation)."""
    from feast_hive_spark.operators.graph import label_propagation

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.near_dup_member_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    out = label_propagation(pairs, "id_a", "id_b", iters=3)
    return out.select(F.col("node").alias("doc_id"), "community")


def _pq_train_cte(m: int = 4, n_codes: int = 16, iters: int = 2) -> str:
    """Unrolled per-subspace Lloyd rounds mirroring
    operators/simsearch.py:pq_train_codebooks_df bit-for-bit (micro
    ints, per-(subspace,id) hash seeding, floor centroids, (dist,code)
    argmin)."""
    sub = 64 // m
    parts = [
        f"""pxm AS (
  SELECT vec_id, i // {sub} AS s, i % {sub} AS pos,
         CAST(ROUND(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS vm
  FROM embeddings, range(0, 64) r(i) WHERE i < len(embedding)
)""",
        f"""pa0 AS (
  SELECT DISTINCT vec_id, s,
         CAST(('0x' || substr(md5('pq' || CAST(s AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT) % {n_codes} AS c
  FROM pxm
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""pc{t} AS (
  SELECT a.s, a.c, x.pos,
         CAST(FLOOR(CAST(SUM(x.vm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
  FROM pxm x JOIN pa{t-1} a ON x.vec_id = a.vec_id AND x.s = a.s
  GROUP BY a.s, a.c, x.pos
)"""
        )
        if t < iters:
            parts.append(
                f"""pa{t} AS (
  SELECT vec_id, s, c FROM (
    SELECT x.vec_id, x.s, c.c,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                              ORDER BY SUM((x.vm - c.cm) * (x.vm - c.cm)), c.c) AS rn
    FROM pxm x JOIN pc{t} c ON x.s = c.s AND x.pos = c.pos
    GROUP BY x.vec_id, x.s, c.c
  ) WHERE rn = 1
)"""
            )
    return ",\n".join(parts)


@register(
    "pq_trained_codebooks",
    f"""
WITH {_pq_train_cte()}
SELECT CAST(s AS BIGINT) AS s, CAST(c AS BIGINT) AS code,
       CAST(pos AS BIGINT) AS pos, cm
FROM pc2
""",
)
def pq_trained_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ codebooks: per-subspace distributed Lloyd's k-means
    (all m subspaces per round in ONE corpus scan + one
    m*n_codes*sub-key aggregate; driver state is the codebook table).
    The SQL twin unrolls both rounds, hash-certifying seeding,
    centroid arithmetic, and per-subspace argmin — the quality member
    of the PQ family whose seed variant gates pq_adc_topk
    (operators/simsearch.py:pq_train_codebooks_df)."""
    from feast_hive_spark.operators.simsearch import pq_train_codebooks_df

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_train_codebooks_df(
        emb, "vec_id", "embedding", dim=64, m=4, n_codes=16, iters=2
    )


@register(
    "k_anonymity_audit",
    """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(class_size) AS BIGINT) AS k_min,
       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
         AS n_rows_below_k5,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below_k5
FROM classes
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier projection: the privacy gate a dataset passes
    before release — k_min is the dataset's k-anonymity level, and
    rows in equivalence classes smaller than k=5 are the re-
    identifiable remainder a pipeline must suppress or generalize.
    One grouped count + one summary aggregate; the class table is
    bounded by the quasi-identifier domain, never the row count."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("class_size").cast("long").alias("k_min"),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
        ).cast("long").alias("n_rows_below_k5"),
        F.sum(
            F.when(F.col("class_size") < 5, 1).otherwise(0)
        ).cast("long").alias("n_classes_below_k5"),
    )


@register(
    "l_diversity_audit",
    """
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS class_size,
         COUNT(DISTINCT c_acctbal >= 0) AS l_signs
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l_signs) AS BIGINT) AS l_min,
       CAST(SUM(CASE WHEN l_signs < 2 THEN class_size ELSE 0 END) AS BIGINT)
         AS n_rows_below_l2
FROM cls
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity companion to the k-anonymity audit: even a large
    equivalence class leaks its sensitive attribute if every member
    shares one value. Per (nation, segment) class, the number of
    DISTINCT sensitive values (account-balance sign as the binary
    sensitive attribute); classes with l < 2 are homogeneous — their
    members' sensitive value is disclosed by membership alone."""
    cust = read_table(spark, sf_dir, "customer")
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct(F.col("c_acctbal") >= 0).alias("l_signs"),
    )
    return cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l_signs").cast("long").alias("l_min"),
        F.sum(
            F.when(F.col("l_signs") < 2, F.col("class_size")).otherwise(0)
        ).cast("long").alias("n_rows_below_l2"),
    )


_DP_NOISE_SQL = (
    "CAST(ROUND(-(1e0 / 1e0) * sign(u01 - 0.5) "
    "* ln(1e0 - 2e0 * abs(u01 - 0.5))) AS BIGINT)"
)


@register(
    "dp_noisy_event_counts",
    f"""
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
), u AS (
  SELECT event_type, n,
         (CAST({X.duck_h48("'dp:' || event_type")} AS DOUBLE) + 0.5)
           / CAST(281474976710656 AS DOUBLE) AS u01
  FROM c
)
SELECT event_type,
       CAST(n + {_DP_NOISE_SQL} AS BIGINT) AS released_count,
       1e0 AS nominal_epsilon
FROM u ORDER BY event_type
""",
)
def dp_noisy_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release (Laplace mechanism,
    ε=1, sensitivity 1): the third member of the privacy suite —
    k-anonymity/l-diversity audit the dataset, this releases an
    aggregate SAFELY. Noise is inverse-CDF Laplace driven by a
    SEEDED md5 uniform (u = (h48('dp:'||key)+0.5)/2^48 ∈ (0,1)), so
    the release is reproducible AND the DuckDB twin replays the exact
    noise — the same determinism contract as the hash-split/
    temperature samplers. The output column is ``nominal_epsilon``
    deliberately: with a PUBLIC deterministic seed the release
    provides no actual DP guarantee (an adversary can recompute and
    subtract the noise) — ε=1 holds only when a deployment swaps in
    a secret per-release seed; the mechanism is otherwise identical.
    One grouped count; the noise arithmetic runs on #event-types
    rows."""
    ensure_views(spark, sf_dir)
    return spark.sql(f"""
        WITH c AS (
          SELECT event_type, cast(count(*) AS BIGINT) AS n
          FROM events GROUP BY event_type
        ), u AS (
          SELECT event_type, n,
                 (cast({X.h48_sql("concat('dp:', event_type)")} AS DOUBLE) + 0.5)
                   / cast(281474976710656 AS DOUBLE) AS u01
          FROM c
        )
        SELECT event_type,
               cast(n + {_DP_NOISE_SQL} AS BIGINT) AS released_count,
               1e0 AS nominal_epsilon
        FROM u ORDER BY event_type
    """)


@register(
    "t_closeness_audit",
    """
WITH b AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(LEAST(GREATEST(FLOOR((c_acctbal + 1000.0) / 1100.0), 0), 9)
              AS INTEGER) AS bin
  FROM customer
), cb AS (
  SELECT c_nationkey, c_mktsegment, bin, COUNT(*) AS cnt
  FROM b GROUP BY c_nationkey, c_mktsegment, bin
), g AS (
  SELECT gb.bin, CAST(COALESCE(cbg.gcnt, 0) AS BIGINT) AS gcnt
  FROM (SELECT CAST(t.i AS INTEGER) AS bin
        FROM UNNEST(range(0, 10)) AS t(i)) gb
  LEFT JOIN (SELECT bin, SUM(cnt) AS gcnt FROM cb GROUP BY bin) cbg
    USING (bin)
), g2 AS (
  SELECT bin,
         CAST(SUM(gcnt) OVER (ORDER BY bin) AS BIGINT) AS cum_g,
         CAST(SUM(gcnt) OVER () AS BIGINT) AS total
  FROM g
), cls AS (
  SELECT c_nationkey, c_mktsegment, CAST(SUM(cnt) AS BIGINT) AS class_size
  FROM cb GROUP BY c_nationkey, c_mktsegment
), grid AS (
  SELECT c.c_nationkey, c.c_mktsegment, c.class_size, CAST(t.i AS INTEGER) AS bin
  FROM cls c, UNNEST(range(0, 10)) AS t(i)
), j AS (
  SELECT gr.c_nationkey, gr.c_mktsegment, gr.class_size, gr.bin,
         CAST(COALESCE(cb.cnt, 0) AS BIGINT) AS cnt
  FROM grid gr LEFT JOIN cb USING (c_nationkey, c_mktsegment, bin)
), j2 AS (
  SELECT *, CAST(SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                                ORDER BY bin) AS BIGINT) AS cum_c
  FROM j
), j3 AS (
  SELECT j2.*, g2.cum_g, g2.total FROM j2 JOIN g2 USING (bin)
)
SELECT c_nationkey, c_mktsegment,
       class_size,
       CAST(ROUND(1e6 * CAST(SUM(ABS(cum_c * total - cum_g * class_size))
                             AS DOUBLE)
                  / (9e0 * class_size * MAX(total))) AS BIGINT) AS t_e6
FROM j3
GROUP BY c_nationkey, c_mktsegment, class_size
ORDER BY c_nationkey, c_mktsegment
""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    the fourth member of the privacy suite: k-anonymity bounds class
    SIZE, l-diversity bounds sensitive-value VARIETY, t-closeness
    bounds how far each equivalence class's sensitive-attribute
    DISTRIBUTION drifts from the global one (a class of 50 rows that
    is 95% negative-balance still leaks even at k=50, l=2). Sensitive
    attribute: account balance in 10 fixed ordered bands; distance is
    the ordered-bin Earth Mover's Distance, (1/(m-1)) *
    Sum_i |CumP_i - CumQ_i|. All arithmetic stays INTEGER until one
    final division — per (class, bin): |cum_cnt*total -
    cum_gcnt*class_size|, summed, divided by (m-1)*class_size*total
    and reported as t*1e6 — so both engines compute identical values
    with no float-order sensitivity. Scale shape: one grouped count
    on the QI x bin domain (bounded), a 10-row global CDF broadcast,
    and windows over <=10-row class partitions — the class table is
    QI-domain-sized, never row-count-sized."""
    cust = read_table(spark, sf_dir, "customer")
    keys = ["c_nationkey", "c_mktsegment"]
    bin_col = (
        F.least(
            F.greatest(
                F.floor((F.col("c_acctbal") + F.lit(1000.0)) / F.lit(1100.0)),
                F.lit(0).cast("long"),
            ),
            F.lit(9).cast("long"),
        )
        .cast("int")
        .alias("bin")
    )
    # cached (r13, guide §1.3): cb feeds the global CDF, the class
    # sizes AND the grid left join — uncached, the customer scan +
    # rollup executed three times per run. QI x bin domain-sized
    # (<= ~1250 rows at any corpus size).
    cb = cust.groupBy(*keys, bin_col).agg(
        F.count(F.lit(1)).alias("cnt")
    ).cache()
    # the global CDF must cover the COMPLETE bin domain: a globally
    # empty interior bin still carries the previous bin's |CumP-CumQ|
    # into the EMD sum (both CDFs flat there) — dropping it would
    # understate t for every class that diverged before the gap
    # (r13 review finding; the class grid below already does this)
    bin_dom = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    g = (
        bin_dom.join(
            cb.groupBy("bin").agg(F.sum("cnt").alias("gcnt")),
            "bin",
            "left",
        )
        .na.fill({"gcnt": 0})
    )
    g2 = g.select(
        "bin",
        F.sum("gcnt")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_g"),
        F.sum("gcnt").over(Window.partitionBy()).cast("long").alias("total"),
    )
    cls = cb.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("class_size"))
    grid = cls.select(
        *keys, "class_size",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
    )
    j = grid.join(cb, [*keys, "bin"], "left").na.fill({"cnt": 0})
    j2 = j.withColumn(
        "cum_c",
        F.sum("cnt")
        .over(
            Window.partitionBy(*keys)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long"),
    )
    j3 = j2.join(F.broadcast(g2), "bin")  # 10-row global CDF
    term = F.abs(
        F.col("cum_c") * F.col("total") - F.col("cum_g") * F.col("class_size")
    )
    return (
        j3.groupBy(*keys, "class_size")
        .agg(F.sum(term).alias("__s"), F.max("total").alias("__t"))
        .select(
            *keys,
            "class_size",
            F.round(
                F.lit(1e6) * F.col("__s").cast("double")
                / (F.lit(9e0) * F.col("class_size") * F.col("__t"))
            ).cast("long").alias("t_e6"),
        )
        .transform(lambda d: _sorted_readout(d, *keys, max_rows=10_000))
    )


@register(
    "inclusion_dependency_discovery",
    """
WITH cand AS (
  SELECT 'orders.o_custkey->customer.c_custkey' AS edge,
         (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_child,
         (SELECT COUNT(DISTINCT o_custkey) FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS n_contained
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
         (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
         (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM supplier))
  UNION ALL
  SELECT 'customer.c_custkey->orders.o_custkey',
         (SELECT COUNT(DISTINCT c_custkey) FROM customer),
         (SELECT COUNT(DISTINCT c_custkey) FROM customer
          WHERE c_custkey IN (SELECT o_custkey FROM orders))
  UNION ALL
  SELECT 'events.user_id->customer.c_custkey',
         (SELECT COUNT(DISTINCT user_id) FROM events),
         (SELECT COUNT(DISTINCT user_id) FROM events
          WHERE user_id IN (SELECT c_custkey FROM customer))
)
SELECT edge, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_contained AS BIGINT) AS n_contained,
       CAST((2 * n_contained * 1000000 + n_child) // (2 * n_child) AS BIGINT)
         AS containment_micro,
       n_contained = n_child AS is_inclusion
FROM cand
""",
)
def inclusion_dependency_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inclusion-dependency (join-key) discovery: for each candidate
    (child.column -> parent.column) edge, the fraction of distinct
    child keys contained in the parent — containment 1.0 certifies a
    foreign key, partial containment flags dirty or overlapping key
    spaces. The profiling pass a warehouse runs on an unfamiliar
    schema before trusting joins. Each edge is a distinct-key
    LEFT SEMI join (key columns only, dims broadcast); distinct sets
    are key-sized, never row-sized — at 100 TB swap exact distincts
    for Bloom-filter probes (bloom_filter_join_audit is the gated
    member of that family)."""
    edges = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]
    # r13 optimization (guide §2.4): one left join + ONE aggregate per
    # edge instead of two independent aggregate subtrees (n_child re-ran
    # the child distinct, n_contained re-ran it again under a semi-join).
    # COUNT(*) over the left join == COUNT(*) over distinct child keys
    # (parent side is distinct, so the join never duplicates), and
    # COUNT(parent marker) == the semi-join count. The child distinct is
    # hash-partitioned by k, so the k-keyed join reuses that exchange;
    # the parent side goes through the size-gated broadcast (key-domain
    # sized; probe = the parent base scan that bounds it).
    from feast_hive_spark.plans.bcast import gated_broadcast

    out = None
    for ct, cc, pt, pc in edges:
        child = read_table(spark, sf_dir, ct).select(
            F.col(cc).alias("k")
        ).distinct()
        parent_scan = read_table(spark, sf_dir, pt)
        parent = (
            parent_scan.select(F.col(pc).alias("k"))
            .distinct()
            .withColumn("__m", F.lit(1))
        )
        row = (
            child.join(gated_broadcast(parent, probe=parent_scan), "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count("__m").alias("n_contained"),
            )
            .select(
                F.lit(f"{ct}.{cc}->{pt}.{pc}").alias("edge"),
                F.col("n_child").cast("long").alias("n_child"),
                F.col("n_contained").cast("long").alias("n_contained"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.selectExpr(
        "edge",
        "n_child",
        "n_contained",
        "(2 * n_contained * 1000000 + n_child) div (2 * n_child) "
        "AS containment_micro",
        "n_contained = n_child AS is_inclusion",
    )


@register(
    "ann_filtered_topk",
    f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, label FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, CAST(c.label AS BIGINT) AS label,
         ROUND({V.duck_cosine('c.embedding', 'q.qv')}, 6) AS cosine
  FROM q JOIN e c ON c.label = q.label AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, label, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
""",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: exact cosine top-5 per query among only
    the candidates satisfying a per-query attribute predicate (same
    ``label``) — the shape every production vector store calls
    pre-filtered ANN. The filter enters CANDIDATE GENERATION as an
    equi-join key, not a post-ranking WHERE: candidates block by
    label (one hash/broadcast join keyed on the attribute — post-
    filtering a label-blind top-k would starve queries whose label is
    rare, the classic filtered-ANN recall bug). At 100 TB the label
    join prunes the distance work to matching blocks, AQE skew-join
    splits hot labels, and the per-query top-5 runs as a
    WindowGroupLimit partial before its shuffle."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.join(
            F.broadcast(q),
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").cast("long").alias("label"),
            F.round(V.cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


def _band_sweep_oracle(
    configs=((2, 8), (4, 4), (8, 2)), threshold: float = 0.5
) -> str:
    """DuckDB twin of minhash_band_sweep: signatures computed once on
    the exact-collapsed corpus (MIN doc_id per distinct text — the
    operator's default collapse), then per-config banding, candidate
    self-join, exact count-only Jaccard verification."""
    k = len(X.MINHASH_COEFS)
    ctes = [
        "rep AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text)",
        f"s AS (SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM rep)",
        f"sig AS (SELECT doc_id, sh, {X.duck_minhash_signature('sh')} AS sg FROM s)",
    ]
    selects = []
    for bands, rows_per_band in configs:
        assert bands * rows_per_band == k
        band_selects = []
        for bi in range(bands):
            lo = bi * rows_per_band
            parts = ", ".join(
                f"CAST(sg[{lo + j + 1}] AS VARCHAR)"
                for j in range(rows_per_band)
            )
            band_selects.append(
                f"SELECT doc_id, {bi} AS band, "
                f"md5(concat_ws(',', {parts})) AS bkey FROM sig"
            )
        ctes.append(f"banded{bands} AS ({' UNION ALL '.join(band_selects)})")
        ctes.append(
            f"""cfg{bands} AS (
  SELECT CAST({bands} AS BIGINT) AS bands,
         CAST({rows_per_band} AS BIGINT) AS rows_per_band,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COALESCE(SUM(CASE WHEN jaccard >= {threshold} THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_true
  FROM (
    SELECT {_DUCK_JACCARD} AS jaccard
    FROM (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM banded{bands} x JOIN banded{bands} y
            ON x.band = y.band AND x.bkey = y.bkey
          WHERE x.doc_id < y.doc_id) c
    JOIN s a ON a.doc_id = c.id_a
    JOIN s b ON b.doc_id = c.id_b
  )
)"""
        )
        selects.append(
            f"SELECT bands, rows_per_band, n_candidates, n_true, "
            f"CASE WHEN n_candidates > 0 "
            f"THEN (n_true * 1000000) // n_candidates "
            f"ELSE 0 END AS precision_micro FROM cfg{bands}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register("minhash_band_sweep", _band_sweep_oracle())
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep (operators/dedup.minhash_band_sweep):
    candidate volume + verified precision for (2x8, 4x4, 8x2) splits
    of ONE signature pass — the report that picks the S-curve
    operating point before an index build. Signatures are computed
    once on the exact-collapsed corpus and re-sliced per config."""
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_band_sweep(docs, "doc_id", "text", n=3)


@register(
    "daily_row_checksums",
    f"""
WITH h AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         event_id,
         {X.duck_h48("concat_ws('|', CAST(event_id AS VARCHAR), "
                     "CAST(user_id AS VARCHAR), event_type, "
                     "CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), "
                     "CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR))")}
           & 4294967295 AS h32
  FROM events
)
SELECT CAST(day AS BIGINT) AS day,
       COUNT(*) AS n_rows,
       CAST(SUM(h32) AS BIGINT) AS checksum32_sum,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM h GROUP BY day
""",
)
def daily_row_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day content checksums of the event stream — the
    data-integrity manifest a pipeline records per ingestion window so
    a re-run / replication / backfill can prove the partition is
    bit-identical without comparing rows (silent duplication, loss, or
    value corruption all move the sum). The per-row 48-bit content
    hash is masked to 32 bits BEFORE the sum so the BIGINT total
    cannot overflow until ~2^31 rows PER DAY (a 100 TB-safe margin;
    full 48-bit hashes would wrap Spark's non-ANSI long sum silently
    while DuckDB's HUGEINT would not — a cross-engine trap). Addition
    is commutative, so the checksum is partition- and
    order-independent; one scan, one day-keyed aggregate."""
    ensure_views(spark, sf_dir)
    return spark.sql(f"""
        WITH h AS (
          SELECT unix_micros(ts) div 86400000000 AS day,
                 event_id,
                 {X.h48_sql("concat_ws('|', CAST(event_id AS STRING), "
                            "CAST(user_id AS STRING), event_type, "
                            "CAST(CAST(round(value * 100) AS BIGINT) AS STRING), "
                            "CAST(unix_micros(ts) AS STRING))")}
                   & 4294967295 AS h32
          FROM events
        )
        SELECT day,
               count(*) AS n_rows,
               sum(h32) AS checksum32_sum,
               min(event_id) AS min_event_id,
               max(event_id) AS max_event_id
        FROM h GROUP BY day
    """)


@register(
    "blocking_quality_report",
    f"""
WITH s AS (
  SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents
), truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE {_DUCK_JACCARD} >= 0.5
), docs AS (SELECT doc_id, lang, source FROM documents),
twb AS (
  SELECT COUNT(*) AS n_true,
         SUM(CASE WHEN da.lang = db.lang AND da.source = db.source
                  THEN 1 ELSE 0 END) AS n_true_in_block
  FROM truth t
  JOIN docs da ON da.doc_id = t.id_a
  JOIN docs db ON db.doc_id = t.id_b
), blocks AS (
  SELECT COUNT(*) AS nb FROM documents GROUP BY lang, source
), sizes AS (
  SELECT SUM(nb * (nb - 1) // 2) AS n_blocked,
         SUM(nb) AS n_docs
  FROM blocks
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(COALESCE(n_true_in_block, 0) AS BIGINT) AS n_true_in_block,
       CAST(CASE WHEN n_true > 0
                 THEN COALESCE(n_true_in_block, 0) * 1000000 // n_true
                 ELSE 1000000 END AS BIGINT) AS completeness_micro,
       CAST(n_blocked AS BIGINT) AS n_blocked_pairs,
       CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_all_pairs,
       CAST((n_docs * (n_docs - 1) // 2 - n_blocked) * 1000000
            // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS reduction_micro
FROM twb CROSS JOIN sizes
""",
)
def blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking quality for the (lang, source) key:
    REDUCTION RATIO (pair-comparison volume a blocked matcher skips,
    from block sizes alone — no pair enumeration) and PAIR
    COMPLETENESS (fraction of true near-dup pairs, exact n-gram
    Jaccard >= 0.5, whose endpoints land in the same block — the
    recall a blocked matcher could at best achieve). The two numbers
    every dedup/ER pipeline balances before committing to a blocking
    scheme at 100 TB: ground truth comes from the collapse-safe
    inverted-index Jaccard operator (never all-pairs), block volumes
    from one GROUP BY, and both ratios are exact integer micro
    divisions."""
    docs = read_table(spark, sf_dir, "documents")
    truth = D.near_dup_member_pairs(docs, "doc_id", "text", threshold=0.5)
    meta = docs.select("doc_id", "lang", "source")
    da = meta.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("la"),
        F.col("source").alias("sa"),
    )
    db = meta.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lb"),
        F.col("source").alias("sb"),
    )
    twb = (
        truth.join(da, "id_a")
        .join(db, "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(
                F.when(
                    (F.col("la") == F.col("lb")) & (F.col("sa") == F.col("sb")),
                    1,
                ).otherwise(0)
            ).alias("n_true_in_block"),
        )
    )
    sizes = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("nb"))
        .agg(
            F.sum(F.expr("nb * (nb - 1) div 2")).alias("n_blocked"),
            F.sum("nb").alias("n_docs"),
        )
    )
    return (
        twb.crossJoin(F.broadcast(sizes))
        .selectExpr(
            "CAST(n_true AS BIGINT) AS n_true",
            "CAST(COALESCE(n_true_in_block, 0) AS BIGINT) AS n_true_in_block",
            "CAST(CASE WHEN n_true > 0 "
            "THEN COALESCE(n_true_in_block, 0) * 1000000 div n_true "
            "ELSE 1000000 END AS BIGINT) AS completeness_micro",
            "CAST(n_blocked AS BIGINT) AS n_blocked_pairs",
            "CAST(n_docs * (n_docs - 1) div 2 AS BIGINT) AS n_all_pairs",
            "CAST((n_docs * (n_docs - 1) div 2 - n_blocked) * 1000000 "
            "div (n_docs * (n_docs - 1) div 2) AS BIGINT) AS reduction_micro",
        )
    )


def _greedy_cover_oracle(k: int = 4) -> str:
    """Unrolled-round DuckDB twin of greedy_shingle_cover: each round
    is argmax-marginal-gain over the anti-joined shingle index (the
    greedy step is deterministic — ties to smallest doc_id — so k
    chained CTE rounds reproduce the distributed loop exactly)."""
    ctes = [
        f"s AS (SELECT doc_id, {X.duck_shingle_hashes('text')} AS sh FROM documents)",
        "u AS (SELECT DISTINCT doc_id, unnest(sh) AS h FROM s)",
        "g1 AS (SELECT doc_id, COUNT(*) AS gain FROM u GROUP BY doc_id)",
        "p1 AS (SELECT 1 AS pick_rank, doc_id, gain FROM g1 "
        "ORDER BY gain DESC, doc_id LIMIT 1)",
        "cov1 AS (SELECT DISTINCT h FROM u JOIN p1 USING (doc_id))",
    ]
    for r in range(2, k + 1):
        ctes.append(
            f"g{r} AS (SELECT doc_id, COUNT(*) AS gain "
            f"FROM u ANTI JOIN cov{r - 1} USING (h) GROUP BY doc_id)"
        )
        ctes.append(
            f"p{r} AS (SELECT {r} AS pick_rank, doc_id, gain FROM g{r} "
            f"ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        ctes.append(
            f"cov{r} AS (SELECT h FROM cov{r - 1} UNION "
            f"SELECT h FROM u JOIN p{r} USING (doc_id))"
        )
    picks = " UNION ALL ".join(
        f"SELECT * FROM p{r}" for r in range(1, k + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f", picks AS ({picks})\n"
        "SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id,\n"
        "       CAST(gain AS BIGINT) AS new_covered,\n"
        "       CAST(SUM(gain) OVER (ORDER BY pick_rank) AS BIGINT)\n"
        "         AS cum_covered\n"
        "FROM picks"
    )


@register("greedy_shingle_cover_picks", _greedy_cover_oracle())
def greedy_shingle_cover_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection (operators/curate.
    greedy_shingle_cover): the 4 documents that together cover the
    most distinct shingles, chosen by the classic (1-1/e)-approximate
    submodular greedy — the coverage-driven 'which k docs carry the
    most distinct content' primitive of data selection."""
    from feast_hive_spark.operators.curate import greedy_shingle_cover

    docs = read_table(spark, sf_dir, "documents")
    return greedy_shingle_cover(docs, "doc_id", "text", k=4)


def _kcenter_oracle(k: int = 4) -> str:
    """Unrolled-round DuckDB twin of kcenter_diverse_sample (Gonzalez):
    seed = MIN(vec_id); each round argmaxes the micro-fixed cosine
    distance to the nearest already-selected center, ties to the
    smallest id."""
    ctes = [
        "e AS (SELECT vec_id, embedding FROM embeddings)",
        "p1 AS (SELECT 1 AS pick_rank, MIN(vec_id) AS vec_id, "
        "CAST(0 AS BIGINT) AS dist_micro FROM e)",
        "c1 AS (SELECT e.vec_id, e.embedding FROM e JOIN p1 USING (vec_id))",
    ]
    for r in range(2, k + 1):
        prev_picks = " UNION ALL ".join(
            f"SELECT vec_id FROM p{i}" for i in range(1, r)
        )
        ctes.append(
            f"""d{r} AS (
  SELECT e.vec_id,
         CAST(ROUND((1 - MAX({V.duck_cosine('e.embedding', 'c.embedding')}))
                    * 1000000) AS BIGINT) AS dist_micro
  FROM e CROSS JOIN c{r - 1} c
  WHERE e.vec_id NOT IN ({prev_picks})
  GROUP BY e.vec_id
)"""
        )
        ctes.append(
            f"p{r} AS (SELECT {r} AS pick_rank, vec_id, dist_micro FROM d{r} "
            f"ORDER BY dist_micro DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"c{r} AS (SELECT * FROM c{r - 1} UNION ALL "
            f"SELECT e.vec_id, e.embedding FROM e JOIN p{r} USING (vec_id))"
        )
    picks = " UNION ALL ".join(f"SELECT * FROM p{r}" for r in range(1, k + 1))
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT CAST(pick_rank AS BIGINT) "
        "AS pick_rank, vec_id, dist_micro FROM (" + picks + ")"
    )


@register("kcenter_diverse_sample", _kcenter_oracle())
def kcenter_diverse_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity sample (operators/simsearch.
    kcenter_diverse_sample): 4 maximally-spread embedding exemplars
    via the Gonzalez 2-approximation — the diversity dual of
    SemDeDup's remove-the-closest, the coreset/exemplar primitive of
    embedding-driven curation."""
    from feast_hive_spark.operators.simsearch import kcenter_diverse_sample

    emb = read_table(spark, sf_dir, "embeddings")
    return kcenter_diverse_sample(emb, "vec_id", "embedding", k=4)


@register(
    "pit_bitemporal",
    """
WITH ent AS (
  SELECT event_id AS probe_id, user_id,
         CAST(ts AS TIMESTAMP) AS event_timestamp,
         make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000)
           AS knowledge_timestamp
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) AS ets,
         make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                        + ((event_id * 40037) % 172800) * 1000000) AS cts,
         value, event_id
  FROM events WHERE event_type = 'click'
), matched AS (
  SELECT e.probe_id, c.value, c.ets, c.cts,
         ROW_NUMBER() OVER (PARTITION BY e.probe_id
                            ORDER BY c.ets DESC, c.cts DESC,
                                     c.event_id DESC) AS rn
  FROM ent e JOIN clicks c ON c.user_id = e.user_id
   AND c.ets <= e.event_timestamp
   AND c.ets >= e.event_timestamp - INTERVAL 604800 SECOND
   AND c.cts <= e.knowledge_timestamp
)
SELECT e.probe_id, e.user_id, e.event_timestamp, e.knowledge_timestamp,
       m.value AS click_value,
       m.ets AS served_event_ts, m.cts AS served_created_ts
FROM ent e LEFT JOIN (SELECT * FROM matched WHERE rn = 1) m
  USING (probe_id)
""",
)
def pit_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal retrieval (plans/asof.bitemporal_asof_join): the
    flagship PIT as-of join extended with a TRANSACTION-TIME axis —
    each purchase probe sees only click versions that were both valid
    (event time <= probe time, 7-day TTL) and KNOWN (ingest time <=
    probe time + 30 min, the probe's knowledge cutoff). Ingest lag is
    simulated deterministically as (event_id * 40037) % 48h seconds
    (a multiplicative spread over day-scale batch-ETL lags — small
    sequential ids alone would cap lag at seconds on small
    fixtures), so a sizable share of versions valid at T are
    invisible at K = T + 30 min and the result provably differs from
    plain PIT (pinned by the vacuity test); served_event_ts /
    served_created_ts expose WHICH version answered, the audit trail
    a backfill-reproducibility check reads. Selection is the PIT
    family's skew-immune max_by(struct) argmax, never a window over
    the join product."""
    from feast_hive_spark.plans.asof import bitemporal_asof_join

    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    ent = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("probe_id"),
        "user_id",
        F.col("ts").alias("event_timestamp"),
        F.timestamp_micros(us + F.lit(1800000000).cast("long")).alias(
            "knowledge_timestamp"
        ),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.timestamp_micros(
            us + ((F.col("event_id") * 40037) % 172800)
            * F.lit(1000000).cast("long")
        ).alias("created"),
        "value",
        "event_id",
    )
    out = bitemporal_asof_join(
        ent,
        clicks,
        ["user_id"],
        probe_id_col="probe_id",
        probe_ts_col="event_timestamp",
        knowledge_ts_col="knowledge_timestamp",
        event_ts_col="ts",
        created_ts_col="created",
        value_cols=["value"],
        ttl_seconds=604800,
        tiebreak_col="event_id",
    )
    return out.withColumnRenamed("value", "click_value")


def _jl_oracle(k: int = 16, dim: int = 64, bin_width: int = 50000) -> str:
    """DuckDB twin of jl_distortion_audit: identical md5-derived ±1
    planes as SQL literals, identical sequential double arithmetic
    (duck_dot/duck_dot_literal mirror functions/vector.dot), identical
    e6 fixed-point rounding — the histogram hash certifies projection,
    norm, ratio, and binning."""
    planes = V.sign_planes(k, dim, seed="jl")
    dots = ",\n         ".join(
        f"{V.duck_dot_literal('z', pl)} AS d{p}"
        for p, pl in enumerate(planes)
    )
    sumsq = " + ".join(f"d{p} * d{p}" for p in range(k))
    return f"""
WITH a AS (
  SELECT vec_id AS pid, embedding AS ea FROM embeddings WHERE vec_id % 2 = 0
), b AS (
  SELECT vec_id - 1 AS pid, embedding AS eb FROM embeddings WHERE vec_id % 2 = 1
), zt AS (
  SELECT pid, list_transform(range(1, {dim} + 1),
         i -> CAST(ea[i] AS DOUBLE) - CAST(eb[i] AS DOUBLE)) AS z
  FROM a JOIN b USING (pid)
), d AS (
  SELECT pid, {V.duck_dot('z', 'z')} AS dn,
         {dots}
  FROM zt
), r AS (
  SELECT pid,
         CAST(ROUND(1e6 * ({sumsq}) / ({k}e0 * dn)) AS BIGINT) AS ratio_e6
  FROM d WHERE dn > 0
)
SELECT CAST(FLOOR(ratio_e6 / {bin_width}e0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(ratio_e6) AS min_ratio_e6,
       MAX(ratio_e6) AS max_ratio_e6
FROM r GROUP BY 1 ORDER BY bin
"""


@register("jl_distortion_audit", _jl_oracle())
def jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection distortion audit (Achlioptas
    2003 ±1 sign matrix, 64 -> 16 dims): before a pipeline swaps
    full embeddings for a cheap random projection (dedup pre-filters,
    coarse ANN routing, sketch storage), this measures what the
    projection does to pairwise DISTANCES on the actual corpus — per
    deterministic probe pair (vec_id 2j, 2j+1), the ratio
    ||Rz||^2 / (k * ||z||^2) (1.0 = isometry), reported as a bounded
    histogram of e6 fixed-point ratios in 0.05-wide bins with
    per-bin min/max. JL says ratios concentrate near 1 with spread
    ~1/sqrt(k); the audit certifies the ACTUAL spread so the
    downstream threshold (e.g. a dedup radius) can be widened
    accordingly. All arithmetic is the vector family's sequential
    double fold (the left-to-right summation of functions/vector.dot)
    so the DuckDB twin is bit-comparable; pairing is id-adjacency
    (linear, no quadratic pair production), output is bin-bounded.
    The 16 projections evaluate as per-column numpy folds over ONE
    difference matrix in a map-only kernel — no shuffle before the
    final 40-row aggregate."""
    emb = read_table(spark, sf_dir, "embeddings")
    k, dim, bin_width = 16, 64, 50000
    planes = V.sign_planes(k, dim, seed="jl")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("ea")
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") - 1).alias("pid"), F.col("embedding").alias("eb")
    )
    # r14 (r13 verdict #4, guide §4.2): the 17 dot products ran as
    # interpreted higher-order `aggregate(zip_with(...))` expressions
    # per row (the sequential-summation determinism contract). The
    # mapInPandas kernel below reproduces the EXACT same arithmetic —
    # per-COLUMN sequential accumulation: acc starts at 0.0 and adds
    # z[d]*c[d] in ascending d, each step an elementwise float64 op
    # across rows, so every row's partial-sum sequence is bit-identical
    # to the scalar left fold — while the 1088 interpreted lambda
    # evaluations per row become 17*dim vectorized numpy ops per batch.
    # round/floor/groupBy stay JVM-side, so Spark's HALF_UP rounding
    # (not numpy's half-to-even) still produces ratio_e6.
    import numpy as np
    import pandas as pd

    C = np.array(planes, dtype=np.float64)  # (k, dim)

    def _jl_kernel(batches):
        for batch in batches:
            if not len(batch):
                continue
            A = V.np_matrix(batch["ea"])
            B = V.np_matrix(batch["eb"])
            Z = A - B  # zip_with cast-double subtraction, elementwise
            n = Z.shape[0]
            dn = np.zeros(n, dtype=np.float64)
            sumsq = None
            for p in range(k):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(Z.shape[1]):
                    acc += Z[:, d] * C[p, d]
                sq = acc * acc
                sumsq = sq if sumsq is None else sumsq + sq
            for d in range(Z.shape[1]):
                dn += Z[:, d] * Z[:, d]
            yield pd.DataFrame(
                {"pid": batch["pid"], "dn": dn, "sumsq": sumsq}
            )

    d = a.join(b, "pid").mapInPandas(
        _jl_kernel, "pid long, dn double, sumsq double"
    )
    r = d.filter(F.col("dn") > 0).select(
        "pid",
        F.round(
            F.lit(1e6) * F.col("sumsq") / (F.lit(float(k)) * F.col("dn"))
        )
        .cast("long")
        .alias("ratio_e6"),
    )
    return (
        r.groupBy(
            F.floor(F.col("ratio_e6") / F.lit(float(bin_width)))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("ratio_e6").alias("min_ratio_e6"),
            F.max("ratio_e6").alias("max_ratio_e6"),
        )
        .transform(_sorted_readout, "bin", max_rows=10_000)
    )


@register(
    "stream_psi_drift",
    """
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
), s AS (
  SELECT date_trunc('day', ts) AS window_start,
         CAST(LEAST(FLOOR(value / 25.0), 9) AS INTEGER) AS bin,
         COUNT(*) AS n
  FROM e GROUP BY 1, 2
), base AS (
  SELECT CAST(LEAST(FLOOR(value / 25.0), 9) AS INTEGER) AS bin,
         COUNT(*) AS bn
  FROM e WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1
), btot AS (
  SELECT SUM(bn) AS bt FROM base
), wtot AS (
  SELECT window_start, SUM(n) AS wt FROM s GROUP BY 1
), grid AS (
  SELECT w.window_start, w.wt, CAST(t.i AS INTEGER) AS bin
  FROM wtot w, UNNEST(range(0, 10)) AS t(i)
), j AS (
  SELECT g.window_start, g.wt, g.bin,
         COALESCE(s.n, 0) AS n, COALESCE(b.bn, 0) AS bn
  FROM grid g
  LEFT JOIN s USING (window_start, bin)
  LEFT JOIN base b USING (bin)
), terms AS (
  SELECT window_start, wt,
         CAST(ROUND(1e6
           * ((CAST(n + 1 AS DOUBLE) / (wt + 10))
              - (CAST(bn + 1 AS DOUBLE) / (bt + 10)))
           * ln((CAST(n + 1 AS DOUBLE) / (wt + 10))
                / (CAST(bn + 1 AS DOUBLE) / (bt + 10)))) AS BIGINT)
           AS term_e6
  FROM j, btot
)
SELECT window_start, CAST(MAX(wt) AS BIGINT) AS n_events,
       CAST(SUM(term_e6) AS BIGINT) AS psi_e6
FROM terms GROUP BY window_start ORDER BY window_start
""",
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming PSI drift monitor: daily event-time
    windows of the value distribution arrive from the stream
    (streaming/events.stream_value_drift_bins — bounded
    windows-x-bins state, complete-mode replay / watermarked append
    in a continuous deployment) and are scored against the STATIC
    first-week baseline with the Population Stability Index,
    Sum_b (p_b - q_b) * ln(p_b / q_b) over 10 fixed value bins with
    add-one smoothing (the batch family's psi_value_drift, lifted to
    at-ingest monitoring). Each bin's term is rounded to e6 BEFORE
    the per-window sum, so the cross-engine float contract is
    per-term (the proven ln/e6 pattern), never
    summation-order-dependent. Output: one row per day — the monitor
    a serving pipeline alerts on. Memoized per events plan (a real
    deployment runs the stream once, continuously)."""
    from feast_hive_spark.plans.memo import plan_memo
    from feast_hive_spark.streaming import events as SE

    def run() -> DataFrame:
        stream = SE.read_event_stream(spark, sf_dir)
        bins = SE.stream_value_drift_bins(
            stream, bin_width=25.0, n_bins=10, window="1 day"
        )
        SE.run_to_memory(
            bins, "__stream_psi_bins", output_mode="complete"
        )
        # localCheckpoint: the raw MemoryPlan sink cannot appear on
        # both sides of the wtot-grid self-join (DeduplicateRelations
        # has no newInstance for it -> INTERNAL_ERROR conflicting
        # attributes); the checkpointed LogicalRDD can
        s = spark.table("__stream_psi_bins").localCheckpoint(eager=True)
        ev = read_table(spark, sf_dir, "events")
        base = (
            ev.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
            .groupBy(
                F.least(
                    F.floor(F.col("value") / F.lit(25.0)),
                    F.lit(9).cast("long"),
                )
                .cast("int")
                .alias("bin")
            )
            .agg(F.count(F.lit(1)).alias("bn"))
        )
        btot = base.agg(F.sum("bn").alias("bt"))
        wtot = s.groupBy("window_start").agg(F.sum("n").alias("wt"))
        grid = wtot.select(
            "window_start",
            "wt",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
        )
        j = (
            grid.join(s, ["window_start", "bin"], "left")
            .join(F.broadcast(base), "bin", "left")
            .na.fill({"n": 0, "bn": 0})
            .crossJoin(F.broadcast(btot))
        )
        p = (F.col("n") + 1).cast("double") / (F.col("wt") + 10)
        q = (F.col("bn") + 1).cast("double") / (F.col("bt") + 10)
        term = (
            F.round(F.lit(1e6) * (p - q) * F.log(p / q))
            .cast("long")
            .alias("term_e6")
        )
        out = (
            j.select("window_start", "wt", term)
            .groupBy("window_start")
            .agg(
                F.max("wt").cast("long").alias("n_events"),
                F.sum("term_e6").cast("long").alias("psi_e6"),
            )
            .transform(_sorted_readout, "window_start", max_rows=10_000)
        )
        return out.localCheckpoint(eager=True)

    return plan_memo(
        spark,
        read_table(spark, sf_dir, "events"),
        ("stream_psi_drift",),
        run,
    )


@register(
    "serving_skew_audit",
    """
WITH probes AS (
  SELECT event_id AS probe_id, user_id, CAST(ts AS TIMESTAMP) AS pts
  FROM events
  WHERE event_type = 'purchase'
    AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-22 00:00:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-23 00:00:00'
), clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
  FROM events WHERE event_type = 'click'
), serving AS (
  SELECT user_id, value AS s_value, ts AS s_ts
  FROM clicks WHERE ts <= TIMESTAMP '2024-01-22 00:00:00'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) = 1
), training AS (
  SELECT p.probe_id, c.value AS t_value, c.ts AS t_ts,
         ROW_NUMBER() OVER (PARTITION BY p.probe_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM probes p JOIN clicks c
    ON c.user_id = p.user_id AND c.ts <= p.pts
), t1 AS (
  SELECT probe_id, t_value, t_ts FROM training WHERE rn = 1
), j AS (
  SELECT p.probe_id, p.user_id, p.pts,
         s.s_value, s.s_ts, t.t_value, t.t_ts
  FROM probes p
  LEFT JOIN serving s USING (user_id)
  LEFT JOIN t1 t USING (probe_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN t_value IS NOT NULL AND s_value IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_serving_null,
       CAST(SUM(CASE WHEN s_value IS DISTINCT FROM t_value
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       CAST((2 * SUM(CASE WHEN s_value IS DISTINCT FROM t_value
                          THEN 1 ELSE 0 END) * 1000000 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS mismatch_ppm,
       CAST(COALESCE(MAX(CASE WHEN s_value IS DISTINCT FROM t_value
                THEN (epoch_us(t_ts)
                      - epoch_us(TIMESTAMP '2024-01-22 00:00:00'))
                     // 1000000 END), 0) AS BIGINT) AS max_lag_sec
FROM j
""",
)
def serving_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-serving skew audit — the feature-store consistency
    check the PIT flagship exists to guarantee, executed as a
    measurement: the ONLINE store serves each user's latest click as
    of the last midnight materialization (batch-refresh staleness),
    while TRAINING uses the exact per-probe point-in-time value; for
    one day of purchase probes the audit counts where they disagree
    (a click landed between the materialization cutoff and the probe)
    and how far behind serving was (max_lag_sec). A nonzero
    mismatch_ppm is the measured cost of daily materialization — the
    number that justifies stream_to_online's incremental path. Both
    sides are skew-immune argmax selections (serving: one grouped
    max_by over pre-cutoff clicks; training: the PIT shape); the
    summary is one row of exact integers."""
    M = "2024-01-22 00:00:00"
    ev = read_table(spark, sf_dir, "events")
    m_ts = F.lit(M).cast("timestamp")
    probes = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("ts") >= m_ts)
        & (F.col("ts") < F.lit("2024-01-23 00:00:00").cast("timestamp"))
    ).select(
        F.col("event_id").alias("probe_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), "ts", "value", "event_id"
    )
    # fold (r13, guide §2.4/§3.1): every pre-cutoff click (ts <= M) is
    # also <= pts for every probe (probes start at M), so the SERVING
    # argmax is derivable from the same probes-x-clicks join the
    # TRAINING argmax needs — a conditional max_by whose ordering key
    # is NULL (ignored) past the cutoff. One join + one grouped agg
    # replaces two joins + two aggs, and the events table is scanned
    # twice per run instead of four times (probes is cached: it feeds
    # the join AND the final left join).
    probes = probes.cache()
    tj = probes.join(
        clicks,
        (F.col("c_user") == F.col("user_id")) & (F.col("ts") <= F.col("pts")),
        "inner",
    )
    per_probe = tj.groupBy("probe_id").agg(
        F.max_by(
            F.struct(F.col("value").alias("v"), F.col("ts").alias("t")),
            F.struct(F.col("ts"), F.col("event_id")),
        ).alias("__m"),
        F.max_by(
            F.col("value"),
            F.when(
                F.col("ts") <= m_ts,
                F.struct(F.col("ts"), F.col("event_id")),
            ),
        ).alias("s_value"),
    ).select(
        "probe_id",
        F.col("__m").getField("v").alias("t_value"),
        F.col("__m").getField("t").alias("t_ts"),
        "s_value",
    )
    j = probes.join(per_probe, "probe_id", "left")
    mismatch = ~F.col("s_value").eqNullSafe(F.col("t_value"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(
            F.when(
                F.col("t_value").isNotNull() & F.col("s_value").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_serving_null"),
        F.sum(F.when(mismatch, 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch"),
        F.floor(
            (
                2 * F.sum(F.when(mismatch, 1).otherwise(0)) * 1000000
                + F.count(F.lit(1))
            )
            / (2 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("mismatch_ppm"),
        F.coalesce(
            F.max(
                F.when(
                    mismatch,
                    F.floor(
                        (F.unix_micros(F.col("t_ts")) - F.unix_micros(m_ts))
                        / 1000000
                    ),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_lag_sec"),
    )


_NDCG_K = 10


def _ndcg_oracle(k: int = _NDCG_K) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlab
  FROM e WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, q.qlab, c.vec_id AS neighbor_id, c.label AS nlab,
         ROUND({{cos}}, 6) AS cosine
  FROM q JOIN e c ON c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, qlab, nlab, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
), dcg AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN nlab = qlab THEN
           CAST(ROUND(1000000000.0 / log2(rank + 1)) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS dcg_e9
  FROM ranked WHERE rank <= {k} GROUP BY query_id
), nrel AS (
  SELECT q.query_id,
         CAST(SUM(CASE WHEN c.label = q.qlab THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rel
  FROM q JOIN e c ON c.vec_id <> q.query_id
  GROUP BY q.query_id
), ideal AS (
  SELECT nrel.query_id,
         CAST(SUM(CAST(ROUND(1000000000.0 / log2(i + 1)) AS BIGINT))
              AS BIGINT) AS idcg_e9
  FROM nrel JOIN range(1, {k} + 1) r(i)
    ON r.i <= LEAST({k}, nrel.n_rel)
  GROUP BY nrel.query_id
)
SELECT nrel.query_id, nrel.n_rel, dcg.dcg_e9, ideal.idcg_e9,
       ROUND(CAST(dcg.dcg_e9 AS DOUBLE) / ideal.idcg_e9, 6)
         AS ndcg_at_{k}
FROM nrel JOIN dcg USING (query_id) JOIN ideal USING (query_id)
ORDER BY query_id
""".format(cos=V.duck_cosine("c.embedding", "q.qv"))


@register("ann_ndcg_eval", _ndcg_oracle())
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of exact cosine retrieval against label relevance —
    the standard graded search-quality metric (Jarvelin & Kekalainen
    2002) closing the ANN evaluation family (recall@k in
    ann_recall_report, label purity in knn_label_accuracy): a
    neighbor is relevant iff it shares the query vector's label;
    DCG discounts by 1/log2(rank+1); the ideal DCG uses
    min(k, n_relevant) terms. Determinism protocol: each discount
    term is quantized to exact 1e-9 integers before summation, so
    both engines sum identical BIGINTs in any order. Shape: the
    mapInPandas matmul top-k kernel (shuffle O(queries x k)), one
    corpus-sized relevance count per query (a broadcast-joined
    conditional aggregate), and a k-row series join for the ideal —
    nothing rank-ordered ever leaves the per-query k rows."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        "embedding",
        F.col("label").alias("qlab"),
    )
    topk = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        k=_NDCG_K,
    )
    lab = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlab"),
    )
    term = F.round(
        F.lit(1000000000.0) / F.log2(F.col("rank") + 1)
    ).cast("long")
    dcg = (
        # the tiny side is the top-k result (queries x k rows by
        # construction) — broadcast IT against the corpus-sized label
        # dim, which at 100 TB cannot be the broadcast side
        lab.join(F.broadcast(topk), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qlab")), "query_id")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("nlab") == F.col("qlab"), term).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("dcg_e9")
        )
    )
    # n_rel = corpus rows sharing the query's label minus the query
    # itself: ONE domain-sized label histogram replaces the 8x-corpus
    # crossJoin expand (r13, guide §2.3 — shuffle/scan fewer bytes).
    # A NULL qlab matches nothing under `=` in both shapes (plain
    # equality join, no null-safe match), so n_rel stays 0 there.
    hist = emb.groupBy(F.col("label").alias("qlab")).agg(
        F.count(F.lit(1)).alias("__n_lab")
    )
    nrel = (
        q.select("query_id", "qlab")
        .join(F.broadcast(hist), "qlab", "left")
        .select(
            "query_id",
            F.when(
                F.col("qlab").isNotNull(),
                F.coalesce(F.col("__n_lab"), F.lit(1)) - 1,
            )
            .otherwise(0)
            .cast("long")
            .alias("n_rel"),
        )
    )
    series = spark.range(1, _NDCG_K + 1).select(
        F.col("id").alias("i")
    )
    ideal = (
        nrel.join(
            F.broadcast(series),
            F.col("i") <= F.least(F.lit(_NDCG_K), F.col("n_rel")),
        )
        .groupBy("query_id", "n_rel")
        .agg(
            F.sum(
                F.round(
                    F.lit(1000000000.0) / F.log2(F.col("i") + 1)
                ).cast("long")
            )
            .cast("long")
            .alias("idcg_e9")
        )
    )
    return (
        ideal.join(F.broadcast(dcg), "query_id")
        .select(
            "query_id",
            "n_rel",
            "dcg_e9",
            "idcg_e9",
            F.round(
                F.col("dcg_e9").cast("double") / F.col("idcg_e9"), 6
            ).alias(f"ndcg_at_{_NDCG_K}"),
        )
        .transform(_sorted_readout, "query_id", max_rows=10_000)
    )


@register(
    "knn_label_confusion_matrix",
    f"""
WITH e AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label FROM embeddings),
p AS (
  SELECT a.vec_id AS q, b.vec_id AS nb, b.label AS nb_label,
         ROUND({V.duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), topk AS (
  SELECT q, nb_label FROM (
    SELECT q, nb_label,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, nb) AS rn
    FROM p
  ) WHERE rn <= 5
), votes AS (
  SELECT q, nb_label, COUNT(*) AS c FROM topk GROUP BY q, nb_label
), pred AS (
  SELECT q, nb_label AS pred FROM (
    SELECT q, nb_label,
           ROW_NUMBER() OVER (PARTITION BY q ORDER BY c DESC, nb_label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT e.label AS given_label, pr.pred AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pred pr JOIN e ON e.vec_id = pr.q
GROUP BY e.label, pr.pred
""",
)
def knn_label_confusion_matrix_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """kNN label-confusion matrix (Northcutt et al.'s confident-
    learning joint-count estimate over k=5 majority votes): counts
    over (given label, predicted label) — diagonal mass is
    label-consistent embedding structure, a concentrated
    off-diagonal cell is the systematic-mislabeling signature a
    label-noise pipeline thresholds on. Shares knn_label_accuracy's
    kernel and deterministic tie-breaks through the factored
    _knn_pred pipeline; label-domain-squared output."""
    from feast_hive_spark.operators.simsearch import knn_label_confusion

    emb = read_table(spark, sf_dir, "embeddings")
    out = knn_label_confusion(emb, "vec_id", "embedding", "label", k=5)
    return out.withColumn("n_pairs", F.col("n_pairs").cast("long"))
