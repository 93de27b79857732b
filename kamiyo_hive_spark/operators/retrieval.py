"""Corpus retrieval / scoring operators for training-data curation.

Three operators a 100 TB text pipeline runs constantly:

- ``bm25_doc_search`` — classic sparse retrieval (Okapi BM25) used to
  mine in-domain documents for a query (e.g. quality-seed expansion,
  RAG corpus probes). Reference behavior surface: the keyword search
  path of the listing scan (SURVEY §2.1 S1 / §2.2 P7) generalized to
  ranked retrieval.
- ``quality_classifier_score`` — fastText-style hashed bag-of-words
  linear scorer (the CCNet/Gopher "quality filter" shape): each token
  maps through a deterministic hash to a weight; a document's score is
  the exact integer sum of its token weights. No model file, no Python
  UDF — the weight function IS the hash, so the classifier runs as
  whole-stage-codegen JVM expressions at any corpus size.
- ``bpe_pair_induction`` — the first merge round of BPE vocabulary
  induction: count adjacent character pairs over the whole corpus and
  rank the merge candidates. At 100 TB this is the canonical
  map-side-combine aggregation (tiny key space, huge input).

Scale posture shared by all three: tokenize → explode → hash-aggregate
with map-side partial aggregation; per-term/corpus statistics are
metadata-sized relations joined back via broadcast. No Python in the
hot path anywhere.

Float discipline (registry determinism contract): transcendentals are
evaluated once per *term* (3 idf values), rounded to 9 dp immediately;
per-document sums run over DECIMAL so accumulation order can never
change a hash-checked value. The classifier avoids floats entirely —
its score is an integer sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.operators.dedup import _portable_hash
from kamiyo_hive_spark.operators.text import _tokens
from kamiyo_hive_spark.plans.registry import register

def _doc_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ts=array_distinct(tokens)): the unsliced distinct-token
    relation shared by the lexical retrievers (RRF's Jaccard branch,
    the RAG hybrid), staged once per sf_dir (r8) — the regex tokenize
    is a per-row expression chain Catalyst re-inlines into every
    consumer, and both operators walk it twice (corpus + query side)."""
    import os

    from kamiyo_hive_spark.operators.similarity import _staged_index_df
    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/doc_toks_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "documents.parquet")
    d = ensure_staging(
        out,
        source,
        lambda tmp: table(spark, sf_dir, "documents")
        .select("doc_id", F.array_distinct(_tokens()).alias("ts"))
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return _staged_index_df(spark, d)


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "hash", "window")  # query: terms present in the corpus
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 20

_BM25_ORACLE = f"""
WITH d AS (
    SELECT doc_id, lang,
           string_split_regex(trim(text), '\\s+') AS toks,
           len(string_split_regex(trim(text), '\\s+')) AS dl
    FROM documents
),
stats AS (
    SELECT count(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
    FROM d
),
tf AS (
    SELECT d.doc_id, d.lang, d.dl, t.t AS term, count(*) AS tfc
    FROM d, unnest(d.toks) AS t(t)
    WHERE t.t IN {BM25_TERMS!r}
    GROUP BY 1, 2, 3, 4
),
df AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
scored AS (
    SELECT tf.doc_id, tf.lang,
           round(
             round(ln((stats.n_docs - df.dfc + 0.5) / (df.dfc + 0.5) + 1), 9)
             * (tf.tfc * ({BM25_K1} + 1))
             / (tf.tfc + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl)),
             9) AS s
    FROM tf JOIN df USING (term) CROSS JOIN stats
)
SELECT doc_id, lang,
       CAST(SUM(CAST(s AS DECIMAL(28, 9))) AS DOUBLE) AS bm25
FROM scored
GROUP BY 1, 2
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP_N}
"""


def bm25_index(spark: SparkSession, sf_dir: str):
    """The BM25 INVERTED INDEX, staged once per corpus generation (r9)
    — the three artifacts every search engine's index holds:

    - postings (term, doc_id, lang, dl, tfc), term-sorted in one file
      so a query's `isin` prunes at the parquet row-group level;
    - the term DICTIONARY (term, dfc) — vocabulary-sized document
      frequencies;
    - the one-row corpus stats (n_docs, avgdl).

    BM25 is an index-serving algorithm: production builds these at
    ingest and a probe reads O(matching postings) plus dictionary
    entries for its |query| terms; recomputing the tokenize + explode
    + aggregate per query was paying index-build cost per probe.
    Exact integer tf/df/dl counts and an engine-computed avgdl double:
    staged values are bit-identical to inline recomputation. Returns
    (postings DataFrame, dict_dir, stats_dir) — the dictionary and
    stats are read DRIVER-SIDE (pyarrow, row-group pruned: request
    metadata, the `query_vecs` convention)."""
    import os

    from kamiyo_hive_spark.operators.similarity import _staged_index_df
    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    base = os.path.basename(sf_dir)
    source = os.path.join(sf_dir, "documents.parquet")

    def docs():
        return table(spark, sf_dir, "documents").select(
            "doc_id", "lang", _tokens().alias("toks")
        ).withColumn("dl", F.size("toks"))

    def postings():
        return (
            docs()
            .select("doc_id", "lang", "dl", F.explode("toks").alias("term"))
            .groupBy("term", "doc_id", "lang", "dl")
            .agg(F.count("*").alias("tfc"))
        )

    postings_dir = ensure_staging(
        f"{SCRATCH}/bm25_postings_{base}",
        source,
        # small row groups on purpose: one 600k-row file is ONE row
        # group by default, and a single row group can never be
        # pruned — the term-sort only pays off if the file has enough
        # groups for the isin predicate's min/max check to skip most
        # of them (a real index segments postings the same way)
        lambda tmp: postings()
        .repartition(1)
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", str(256 * 1024))
        .parquet(tmp),
    )
    dict_dir = ensure_staging(
        f"{SCRATCH}/bm25_dict_{base}",
        source,
        lambda tmp: postings()
        .groupBy("term")
        .agg(F.count("*").alias("dfc"))
        .repartition(1)
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    stats_dir = ensure_staging(
        f"{SCRATCH}/bm25_stats_{base}",
        source,
        lambda tmp: docs()
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return _staged_index_df(spark, postings_dir), dict_dir, stats_dir


@register("bm25_doc_search", oracle=_BM25_ORACLE, tags=("text", "retrieval", "bm25"))
def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed 3-term query.

    Plan shape (and why it scales): the query is served from the
    staged inverted index (`bm25_index` — postings + dictionary +
    stats built at ingest, the production BM25 shape). The dictionary
    entries for the |query| terms and the one-row stats are request
    metadata — read driver-side (pyarrow, row-group pruned) and
    planted as LITERALS, with idf still computed by the ENGINE over
    those literals (constant-folded `log`, so the transcendental's
    bits can never fork from the engine's libm). The one Spark job is
    the term-pruned postings scan (`isin` reaches the term-sorted file
    as a row-group-prunable predicate — O(matching postings), not
    O(corpus tokens)) + one hash aggregation + the top-N heap. Per-doc
    accumulation is DECIMAL so the hash-checked score is independent
    of partial-agg order. (The old per-query tokenize + explode +
    checkpoint + two broadcasts cost 0.64-0.75 s at sf0.1.)
    """
    import pyarrow.dataset as _pads

    postings, dict_dir, stats_dir = bm25_index(spark, sf_dir)
    srow = _pads.dataset(stats_dir).to_table().to_pylist()[0]
    n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])
    drows = (
        _pads.dataset(dict_dir)
        .to_table(
            columns=["term", "dfc"],
            filter=_pads.field("term").isin(list(BM25_TERMS)),
        )
        .to_pylist()
    )
    dfc = {r["term"]: int(r["dfc"]) for r in drows}
    missing = [t for t in BM25_TERMS if t not in dfc]
    if missing:
        raise ValueError(
            f"BM25 query terms absent from the corpus dictionary: {missing}"
        )
    # idf per term as an ENGINE-evaluated constant expression over the
    # planted integer literals — bit-identical to the old broadcast-
    # join form, no Python libm in the path
    idf_map = F.create_map(
        *[
            x
            for t in sorted(dfc)
            for x in (
                F.lit(t),
                F.round(
                    F.log(
                        (F.lit(n_docs) - F.lit(dfc[t]) + 0.5)
                        / (F.lit(dfc[t]) + 0.5)
                        + 1
                    ),
                    9,
                ),
            )
        ]
    )
    tf = postings.filter(F.col("term").isin(*BM25_TERMS))
    score = F.round(
        F.element_at(idf_map, F.col("term"))
        * (F.col("tfc") * (BM25_K1 + 1))
        / (
            F.col("tfc")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
        ),
        9,
    )
    return (
        tf.select("doc_id", "lang", score.alias("s"))
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("s").cast("decimal(28,9)")).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_N)
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier
# ---------------------------------------------------------------------------

QC_SEED = 211  # weight-hash seed (fixture stand-in for trained weights)

_QC_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang, t.t AS tok
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(t)
),
w AS (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5(tok || ':{QC_SEED}'), 1, 15)) AS BIGINT)
               % 2001 - 1000 AS wgt
    FROM tok
),
doc AS (
    SELECT doc_id, lang, SUM(wgt) AS score_int
    FROM w GROUP BY 1, 2
)
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(CASE WHEN score_int > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(score_int) AS BIGINT) AS sum_score
FROM doc
GROUP BY lang
"""


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, score_int): the per-document hashed-linear
    classifier verdicts, staged once per sf_dir (r9) — THE shared
    inference product consumed by `quality_classifier_score` (its lang
    rollup) and `curated_pretrain_pipeline` (its keep/drop gate). The
    capstone was re-running the full explode + per-doc aggregation the
    classifier query had already paid for (VERDICT r8 Next 3b); a
    production lake scores a corpus once and every curation pass reads
    the verdict column. Integer scores, so the staged values are
    bit-identical to inline recomputation on any engine."""
    import os

    from kamiyo_hive_spark.operators.similarity import _staged_index_df
    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/doc_qscores_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "documents.parquet")

    def build(tmp: str) -> None:
        d = table(spark, sf_dir, "documents").select(
            "doc_id", "lang", F.explode(_tokens()).alias("tok")
        )
        wgt = F.pmod(_portable_hash(F.col("tok"), QC_SEED), F.lit(2001)) - 1000
        (
            d.select("doc_id", "lang", wgt.alias("wgt"))
            .groupBy("doc_id", "lang")
            .agg(F.sum("wgt").alias("score_int"))
            .coalesce(1)  # per-doc metadata; consumers are cheap maps
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return _staged_index_df(spark, ensure_staging(out, source, build))


@register(
    "quality_classifier_score",
    oracle=_QC_ORACLE,
    tags=("text", "quality", "classifier"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier (fastText-filter shape).

    weight(token) = portable_hash(token) % 2001 - 1000 — a stand-in
    for trained weights with the same execution shape: a pure hash →
    weight projection, so inference is whole-stage codegen with ZERO
    model state to ship. A production swap-in replaces the hash with a
    broadcast map lookup and changes nothing else about the plan.

    Scores are exact integer sums (no float accumulation at all), so
    the keep/drop decision and every reported aggregate are
    bit-reproducible on any engine, any partitioning. The 60-bit
    md5-prefix hash is non-negative, so `%` has no sign ambiguity
    cross-engine.

    The per-doc inference is the staged `doc_quality_scores` relation
    (scored once per corpus generation, shared with the curation
    capstone); this query is the lang-level rollup of the verdicts.
    """
    doc = doc_quality_scores(spark, sf_dir)
    return doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("score_int") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum("score_int").cast("long").alias("sum_score"),
    )


# ---------------------------------------------------------------------------
# BPE pair induction (first merge round)
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 50

_BPE_PAIR_ORACLE = f"""
WITH tok AS (
    SELECT t.t AS tok
    FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(t)
    WHERE len(t.t) > 1
),
pairs AS (
    SELECT p.p AS pair
    FROM tok,
         unnest(list_transform(generate_series(1, len(tok) - 1),
                               i -> substr(tok, CAST(i AS INTEGER), 2))) AS p(p)
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


@register(
    "bpe_pair_induction",
    oracle=_BPE_PAIR_ORACLE,
    tags=("text", "tokenizer", "bpe"),
)
def bpe_pair_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round: corpus-wide adjacent character-pair
    counts, ranked. The distributed shape of tokenizer training.

    Plan: tokenize → explode tokens → explode character bigrams
    (`transform(sequence(...))`, JVM-side — no Python) → hash
    aggregate. The key space is tiny (alphabet²), so map-side partial
    aggregation collapses the exploded stream before the one shuffle;
    the top-50 is a TakeOrdered over ~10² grouped rows. This is the
    pattern that holds at 100 TB: per-partition combine does all the
    work, the exchange carries only (pair, partial-count) rows.
    """
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("tok"))
        .filter(F.length("tok") > 1)
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# RAG-style hybrid retrieval: dense candidate generation + lexical rerank
# ---------------------------------------------------------------------------

RAG_N_QUERIES = 4   # query docs: vec_id/doc_id < N
RAG_K_CLUSTERS = 8  # seed centroids for the coarse quantizer (IVF probe)
RAG_TOP_K = 3       # reranked results per query
RAG_ALPHA = 0.5     # hybrid weight: alpha*cosine + (1-alpha)*jaccard

_RAG_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
d AS (
    SELECT vec_id,
           list_transform(
               v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y),
                                            (acc, y) -> acc + y))) AS nv
    FROM raw
),
c AS (SELECT vec_id AS cid, nv AS cv FROM d WHERE vec_id < {RAG_K_CLUSTERS}),
scored AS (
    SELECT d.vec_id, c.cid,
           round(list_reduce(list_transform(list_zip(d.nv, c.cv), p -> p[1] * p[2]),
                             (acc, x) -> acc + x), 9) AS sim
    FROM d, c
),
assigned AS (
    SELECT vec_id, cid
    FROM (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
          FROM scored)
    WHERE rn = 1
),
toks AS (
    SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS ts
    FROM documents
),
q AS (
    SELECT a.vec_id AS query_id, a.cid, d.nv AS qnv, t.ts AS qts
    FROM assigned a
    JOIN d ON d.vec_id = a.vec_id
    JOIN toks t ON t.doc_id = a.vec_id
    WHERE a.vec_id < {RAG_N_QUERIES}
),
cand AS (
    SELECT q.query_id, a.vec_id AS cand_id, q.qnv, q.qts
    FROM q JOIN assigned a ON a.cid = q.cid AND a.vec_id <> q.query_id
),
rerank AS (
    SELECT c.query_id, c.cand_id,
           round(
             {RAG_ALPHA} * round(list_reduce(
                 list_transform(list_zip(d.nv, c.qnv), p -> p[1] * p[2]),
                 (acc, x) -> acc + x), 9)
             + (1 - {RAG_ALPHA})
               * round(CAST(len(list_intersect(t.ts, c.qts)) AS DOUBLE)
                       / len(list_distinct(t.ts || c.qts)), 9),
             9) AS hybrid_score
    FROM cand c
    JOIN d ON d.vec_id = c.cand_id
    JOIN toks t ON t.doc_id = c.cand_id
)
SELECT query_id, cand_id, hybrid_score
FROM (SELECT query_id, cand_id, hybrid_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hybrid_score DESC, cand_id) AS rn
      FROM rerank)
WHERE rn <= {RAG_TOP_K}
ORDER BY query_id, hybrid_score DESC, cand_id
"""


@register(
    "rag_hybrid_retrieval",
    oracle=_RAG_ORACLE,
    tags=("retrieval", "rag", "hybrid", "embedding"),
)
def rag_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval pipeline, composed end-to-end: dense candidate
    generation (IVF-style coarse quantizer — every vector assigned to
    its nearest seed centroid, the query probes its own cell) followed
    by a hybrid rerank: alpha * exact cosine + (1-alpha) * lexical
    Jaccard between the query document's token set and the candidate's
    (dense recall + sparse precision — the standard hybrid-search
    recipe). Top-3 per query, 4 queries in one job.

    Scale shape: assignment is a map-side broadcast crossJoin +
    per-vector argmax (the SemDeDup/IVF pattern — at 100 TB the corpus
    is PARTITIONED by cell, so a probe reads ~1/K of the data);
    queries are a broadcast 4-row relation, so candidate generation is
    a broadcast semi-probe, not a shuffle; the rerank joins
    candidate-cell vectors and token sets on the primary key and
    windows within query_id (4 partitions of cell-sized rows).

    Float discipline: cosine and jaccard each rounded to 9 dp before
    the (exact-literal) affine combination, which is rounded again —
    deterministic on both engines.
    """
    from kamiyo_hive_spark.operators.similarity import assign_to_seed_centroids

    assigned = assign_to_seed_centroids(spark, sf_dir, RAG_K_CLUSTERS)
    toks = _doc_toks(spark, sf_dir)  # staged distinct-token relation (r8)
    q = (
        assigned.filter(F.col("vec_id") < RAG_N_QUERIES)
        .join(toks, assigned.vec_id == toks.doc_id)
        .select(
            F.col("vec_id").alias("query_id"),
            # Rename the join key: q derives FROM assigned, so keeping
            # the same attribute makes `assigned.cid == q.cid` resolve
            # to a trivially-true self-comparison (Spark warns, and the
            # probe silently degrades to a full cross of corpus ×
            # queries — exactly the N² the cell probe exists to avoid).
            F.col("cid").alias("qcid"),
            F.col("nv").alias("qnv"),
            F.col("ts").alias("qts"),
        )
    )
    cand = assigned.join(
        F.broadcast(q),
        (assigned.cid == q.qcid) & (assigned.vec_id != q.query_id),
    ).select("query_id", F.col("vec_id").alias("cand_id"), "nv", "qnv", "qts")
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("nv"), F.col("qnv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        9,
    )
    jac = F.round(
        F.size(F.array_intersect(F.col("ts"), F.col("qts"))).cast("double")
        / F.size(F.array_union(F.col("ts"), F.col("qts"))),
        9,
    )
    hybrid = F.round(RAG_ALPHA * cos + (1 - RAG_ALPHA) * jac, 9)
    reranked = (
        cand.join(toks, cand.cand_id == toks.doc_id)
        .select("query_id", "cand_id", hybrid.alias("hybrid_score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("hybrid_score"), F.asc("cand_id")
    )
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RAG_TOP_K)
        .select("query_id", "cand_id", "hybrid_score")
        .orderBy("query_id", F.desc("hybrid_score"), "cand_id")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of independent retrievers
# ---------------------------------------------------------------------------

RRF_K = 60      # the standard RRF damping constant (Cormack et al. 2009)
RRF_NQ = 4      # query docs: doc_id/vec_id < N (aligned ids, as rag_hybrid)
RRF_POOL = 50   # per-retriever candidate pool (top-N each side)
RRF_TOP = 10    # fused results per query

_RRF_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
d AS (
    SELECT vec_id,
           list_transform(
               v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y),
                                            (acc, y) -> acc + y))) AS nv
    FROM raw
),
q AS (SELECT vec_id AS query_id, nv AS qnv FROM d WHERE vec_id < {RRF_NQ}),
dpool AS (
    SELECT query_id, cand_id, r FROM (
        SELECT q.query_id, d.vec_id AS cand_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_reduce(
                       list_transform(list_zip(d.nv, q.qnv), p -> p[1] * p[2]),
                       (acc, x) -> acc + x), 9) DESC, d.vec_id) AS r
        FROM d, q WHERE d.vec_id <> q.query_id)
    WHERE r <= {RRF_POOL}
),
toks AS (
    SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS ts
    FROM documents
),
qt AS (SELECT doc_id AS query_id, ts AS qts FROM toks WHERE doc_id < {RRF_NQ}),
lpool AS (
    SELECT query_id, cand_id, r FROM (
        SELECT qt.query_id, t.doc_id AS cand_id,
               row_number() OVER (
                   PARTITION BY qt.query_id
                   ORDER BY round(CAST(len(list_intersect(t.ts, qt.qts)) AS DOUBLE)
                                  / len(list_distinct(t.ts || qt.qts)), 9) DESC,
                            t.doc_id) AS r
        FROM toks t, qt WHERE t.doc_id <> qt.query_id)
    WHERE r <= {RRF_POOL}
),
fused AS (
    SELECT COALESCE(dp.query_id, lp.query_id) AS query_id,
           COALESCE(dp.cand_id, lp.cand_id) AS cand_id,
           round(COALESCE(round(1.0 / ({RRF_K} + dp.r), 9), 0)
                 + COALESCE(round(1.0 / ({RRF_K} + lp.r), 9), 0), 9) AS rrf_score,
           CAST(COALESCE(dp.r, 0) AS BIGINT) AS dense_rank,
           CAST(COALESCE(lp.r, 0) AS BIGINT) AS lex_rank
    FROM dpool dp
    FULL JOIN lpool lp
      ON lp.query_id = dp.query_id AND lp.cand_id = dp.cand_id
)
SELECT query_id, cand_id, rrf_score, dense_rank, lex_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, cand_id) AS rn
      FROM fused)
WHERE rn <= {RRF_TOP}
ORDER BY query_id, rrf_score DESC, cand_id
"""


def _rrf_ranked_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two retrievers' ranked top-{POOL} pools, source-tagged:
    (query_id, cand_id, src 'd'|'l', r). This is the INPUT to rank
    fusion — the product of the upstream retriever services — and it
    is what `_rrf_pools_dir` stages per testdata generation.

    Retriever A: exact cosine over L2-normalized embeddings (dense).
    Retriever B: token-set Jaccard (lexical).

    Scale shape: the query vectors are request metadata — read
    driver-side (pyarrow, row-group pruned) and planted as literal
    arrays, so the dense pass scores all 4 queries in ONE map over the
    corpus with no join-side row duplication; the lexical queries are a
    broadcast 4-row relation. Both retrievers rank through ONE window
    over the source-tagged union (per-retriever semantics preserved by
    partitioning on (query_id, src)).

    Float discipline note: the driver-side L2 normalize loops
    left-to-right over IEEE doubles — the exact op sequence of the
    Spark `F.aggregate` fold it replaces, so planted literals are
    bit-identical to the engine-computed ones (A/B'd value-identical;
    the interleaved A/B also measured the literal form ~13% faster on
    the dense branch)."""
    import math

    from pyspark.sql import Window

    from kamiyo_hive_spark.operators.similarity import (
        normalized_embeddings,
        query_vecs,
    )

    # staged normalized relation (r8): the inline normalize was being
    # re-inlined into each of the 4 query dots by CollapseProject —
    # 4 normalizations per row; the staged scan is one (measured
    # 0.48 s → 0.17 s for the dense branch at sf0.1, bit-identical)
    d = normalized_embeddings(spark, sf_dir).select("vec_id", "nv")
    qids = []
    qvs = []
    for vid, vec in query_vecs(sf_dir, RRF_NQ):
        n = 0.0
        for x in vec:  # left-to-right, same fold as F.aggregate
            n = n + x * x
        n = math.sqrt(n)  # sqrt, not pow(·, .5): the engines use sqrt
        qids.append(vid)
        qvs.append([x / n for x in vec])
    # The per-query dot products as ONE parsed SQL expression over a
    # literal query-vector table: the unrolled F.array(F.lit(...)×256)
    # form cost ~0.29 s of py4j plan-build per call (measured r8 —
    # the same round-trip disease `srp_bucket` folded in r7). Float
    # literals print via repr with a D suffix, so the parsed doubles
    # are bit-identical to the F.lit path.
    qvs_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(c)!r}D" for c in qv) + ")"
            for qv in qvs
        )
        + ")"
    )
    # plant the REAL vec_ids next to the scores: positional indices
    # would silently mislabel queries if ids were ever sparse
    qids_sql = "array(" + ",".join(str(int(i)) for i in qids) + ")"
    sims = F.expr(
        f"transform({qvs_sql}, qv -> round(aggregate(zip_with(nv, qv, "
        f"(x, y) -> x * y), 0.0D, (a, x) -> a + x), 9))"
    )
    dense_scored = (
        d.select("vec_id", F.posexplode(sims).alias("qix", "score"))
        .select(
            F.expr(f"CAST(element_at({qids_sql}, qix + 1) AS BIGINT)").alias(
                "query_id"
            ),
            F.col("vec_id").alias("cand_id"),
            "score",
            F.lit("d").alias("src"),
        )
        .filter(F.col("cand_id") != F.col("query_id"))
    )
    toks = _doc_toks(spark, sf_dir)  # staged distinct-token relation (r8)
    qt = toks.filter(F.col("doc_id") < RRF_NQ).select(
        F.col("doc_id").alias("query_id"), F.col("ts").alias("qts")
    )
    jac = F.round(
        F.size(F.array_intersect(F.col("ts"), F.col("qts"))).cast("double")
        / F.size(F.array_union(F.col("ts"), F.col("qts"))),
        9,
    )
    lex_scored = toks.join(F.broadcast(qt), toks.doc_id != qt.query_id).select(
        "query_id",
        F.col("doc_id").alias("cand_id"),
        jac.alias("score"),
        F.lit("l").alias("src"),
    )
    w_rank = Window.partitionBy("query_id", "src").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    # ONE explicit exchange on query_id feeds the ranking: hash-
    # partitioning on a SUBSET of the required keys satisfies
    # ClusteredDistribution for the (query_id, src) rank window (the
    # r8 exchange-collapse finding). At scale the key is queries —
    # the natural serving parallelism.
    return (
        dense_scored.unionByName(lex_scored)
        .repartition(8, F.col("query_id"))
        .withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") <= RRF_POOL)
        .select("query_id", "cand_id", "src", "r")
    )


def _rrf_pools_dir(spark: SparkSession, sf_dir: str) -> str:
    """The ranked retriever pools staged per testdata generation —
    fingerprinted on BOTH source tables (the dense pool reads
    embeddings, the lexical pool reads documents; either regenerating
    invalidates). One file: 2 × queries × pool rows of metadata."""
    import os

    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/rrf_pools_{os.path.basename(sf_dir)}"
    sources = [
        os.path.join(sf_dir, "embeddings.parquet"),
        os.path.join(sf_dir, "documents.parquet"),
    ]
    return ensure_staging(
        out,
        sources,
        lambda tmp: _rrf_ranked_pools(spark, sf_dir)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp),
    )


@register(
    "rrf_fusion",
    oracle=_RRF_ORACLE,
    tags=("retrieval", "rrf", "hybrid", "rank-fusion"),
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two
    independent retrievers — the production-default way to combine
    dense and lexical search without score calibration: each retriever
    contributes 1/(60 + rank), a document missing from a pool
    contributes 0, and documents high in EITHER list surface.

    The pools are SERVED, not recomputed (VERDICT r8 Next 3a — the
    100 TB shape this operator's docstring always promised): rank
    fusion consumes the per-query top-{POOL} products of the upstream
    retriever services — here the staged `_rrf_pools_dir` relation
    (exact brute-force pools so the DuckDB oracle replays them
    end-to-end; a production deployment swaps in the ANN index
    (`knn_lsh_partitioned`) and BM25 (`bm25_doc_search`) pools and the
    fusion stage is unchanged). Fusion cost is O(queries × pool) —
    metadata-sized regardless of corpus size, which is RRF's
    operational point. The fusion is a pivot aggregation instead of a
    full-outer join (one partial-agg exchange over 2×queries×pool
    rows); ranks, not scores, cross the fusion, so the 9-dp rounding
    discipline only has to hold within each retriever; absent ranks
    are encoded 0 (not NULL) to keep the schema integer-typed on both
    engines. (A/B r9: recomputing both pools inline cost 0.98 s at
    sf0.1; fusing the served pools runs the corpus-independent tail
    alone.)"""
    from pyspark.sql import Window

    from kamiyo_hive_spark.operators.similarity import _staged_index_df

    pools = _staged_index_df(spark, _rrf_pools_dir(spark, sf_dir))
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1.0) / (F.lit(RRF_K) + r), 9), F.lit(0.0)
    )
    # ONE explicit queries-keyed exchange feeds the whole tail: the
    # (query_id, cand_id) pivot aggregation and the final per-query
    # window both cluster on a superset of query_id, so
    # EnsureRequirements inserts nothing further. Width 4 = NQ — the
    # pool relation is 400 rows; a serving deployment keys this to its
    # query fan-out.
    fused = (
        pools.repartition(RRF_NQ, F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(
            F.max(F.when(F.col("src") == "d", F.col("r"))).alias("dr"),
            F.max(F.when(F.col("src") == "l", F.col("r"))).alias("lr"),
        )
        .select(
            "query_id",
            "cand_id",
            F.round(contrib(F.col("dr")) + contrib(F.col("lr")), 9).alias("rrf_score"),
            F.coalesce("dr", F.lit(0)).cast("long").alias("dense_rank"),
            F.coalesce("lr", F.lit(0)).cast("long").alias("lex_rank"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("cand_id"))
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= RRF_TOP)
        .select("query_id", "cand_id", "rrf_score", "dense_rank", "lex_rank")
        .orderBy("query_id", F.desc("rrf_score"), "cand_id")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (iterative merge learning)
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3

_BPE_ENC0 = """
    SELECT ' ' || array_to_string(string_split(lower(tok), ''), '  ') || ' ' AS s
    FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    )
    WHERE regexp_matches(tok, '^[a-zA-Z0-9]+$') AND length(tok) >= 2
"""


def _bpe_oracle() -> str:
    """Unrolled R-round replay: count pairs → pick argmax (count desc,
    pair asc) → literal-replace the doubled-separator encoding —
    exactly the Spark loop, so a drifted tie-break, a boundary-unsafe
    merge, or a missed round hash-fails."""
    ctes = [f"enc0 AS ({_BPE_ENC0})"]
    for r in range(1, BPE_ROUNDS + 1):
        ctes.append(f"""
    p{r} AS (
        SELECT string_split(pair, '|')[1] AS l,
               string_split(pair, '|')[2] AS r,
               n
        FROM (
            SELECT u.pair, count(*) AS n FROM (
                SELECT unnest(list_transform(
                    range(1, len(string_split(trim(s), '  '))),
                    i -> string_split(trim(s), '  ')[CAST(i AS BIGINT)] || '|' ||
                         string_split(trim(s), '  ')[CAST(i + 1 AS BIGINT)])) AS pair
                FROM enc{r - 1}
                WHERE len(string_split(trim(s), '  ')) >= 2) u
            GROUP BY 1 ORDER BY n DESC, u.pair LIMIT 1)
    ),
    enc{r} AS (
        SELECT replace(e.s, ' ' || p.l || '  ' || p.r || ' ',
                       ' ' || p.l || p.r || ' ') AS s
        FROM enc{r - 1} e, p{r} p
    )""")
        ctes.append(f"""
    stat{r} AS (
        SELECT CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT) AS n_symbols
        FROM enc{r}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, CAST(n AS BIGINT) AS pair_count, "
        f"(SELECT n_symbols FROM stat{r}) AS corpus_symbols_after "
        f"FROM p{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"WITH {','.join(ctes)} {selects} ORDER BY round"


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("tokenizer", "bpe", "iterative", "text"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, the iterative loop itself (completes the
    story `bpe_pair_induction` starts): R=3 rounds of count-adjacent-
    pairs → learn the argmax merge (count desc, pair asc tie-break) →
    apply it corpus-wide → recount on the merged corpus. Round r's
    counts depend on round r-1's applied merge — the data-dependent
    iteration that makes tokenizer training a loop, not a query.

    The merge application is ENGINE-PORTABLE by construction: token
    encodings are doubled-separator symbol strings (' a  b  c '), so
    applying merge (l, r) is a LITERAL string replace of ' l  r ' with
    ' lr ' — leftmost non-overlapping, boundary-safe (a symbol's outer
    single-spaces are the halves of its neighbors' double separators;
    multi-char symbols can never false-match inside another symbol),
    and bit-identical across Spark, DuckDB, and Python str.replace
    (verified on overlap runs like 'aaaa' → ' aa  aa '). No UDF: the
    per-round plan is split + transform + explode (JVM codegen), one
    count exchange whose keys are vocabulary-bounded (map-side combine
    does the work), and a broadcast-free literal replace.

    Scale shape: ONE corpus-scale pass total (the word-frequency
    count; map-side combine does the work), then every round is
    vocabulary-sized — explode→weighted-count over distinct encodings
    + a map-side replace; the learned merge is a 1-row collect
    (bounded metadata, the parameter-server round-trip — same
    discipline as the k-means centroids). `corpus_symbols_after` pins
    each round's APPLICATION, not just its argmax: a merge applied at
    wrong boundaries changes the cnt-weighted symbol count."""
    from pyspark.sql import Observation

    d = table(spark, sf_dir, "documents")
    tok = F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    toks = (
        d.select(tok)
        .filter(F.col("tok").rlike("^[a-zA-Z0-9]+$") & (F.length("tok") >= 2))
        .select(F.lower("tok").alias("tok"))
    )
    # Train on the WORD-FREQUENCY table, not per occurrence (r10, guide
    # §1.2/§2.3 — the standard BPE-trainer representation): identical
    # occurrences have identical encodings, so every downstream count is
    # a cnt-weighted sum over DISTINCT tokens. One corpus-scale
    # map-side-combined count exchange up front replaces a corpus-scale
    # explode+shuffle PER ROUND; each round then runs on vocabulary-
    # sized rows (corpus occurrences >> distinct tokens at any scale —
    # 261,827 vs 30 at sf0.1). Exactness: weights are integral longs,
    # pair_count = SUM(cnt) over occurrences of the pair — the same
    # number the per-occurrence count produced, bit-for-bit.
    enc = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.filter(F.split(F.col("tok"), ""), lambda x: x != ""), "  "
                ),
                F.lit(" "),
            ).alias("s"),
            "cnt",
        )
    )
    # Materialize the base encoding once: every round's job otherwise
    # re-runs the tokenize+count chain under its replace stack (A/B
    # best-of-3 ×2 at sf0.1, pre-r10 shape: 4.01/4.06 s plain vs
    # 3.27/3.31 s). At warehouse scale this is the staged vocab table.
    enc = enc.localCheckpoint()
    # Per round, ONE job: symbols are split once into an array column,
    # adjacent pairs come from zip_with over two slices of it (A/B at
    # sf0.1: 2.2 s for the transform/element_at shape whose lambda
    # re-derives the split per index vs 1.2 s for slice-zip), and the
    # pre-merge symbol count rides the same action as an observe()
    # metric — round r's observation IS round r-1's
    # corpus_symbols_after, so only the final round pays a count job.
    rows: list = []
    for r in range(1, BPE_ROUNDS + 1):
        obs = Observation()
        ys = (
            enc.select(F.split(F.trim(F.col("s")), "  ").alias("y"), "cnt")
            .observe(obs, F.sum(F.size("y") * F.col("cnt")).alias("n"))
        )
        best = (
            ys.filter(F.size("y") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice("y", 1, F.size("y") - 1),
                        F.expr("slice(y, 2, size(y) - 1)"),
                        lambda a, b: F.concat(a, F.lit("|"), b),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .first()
        )
        if r > 1:
            rows[-1][-1] = int(obs.get["n"])  # symbols after merge r-1
        left, right = best["pair"].split("|")
        enc = enc.select(
            F.replace(
                F.col("s"),
                F.lit(f" {left}  {right} "),
                F.lit(f" {left}{right} "),
            ).alias("s"),
            "cnt",
        )
        rows.append([r, left, right, left + right, best["n"], 0])
    rows[-1][-1] = int(
        enc.select(
            F.sum(F.size(F.split(F.trim(F.col("s")), "  ")) * F.col("cnt")).alias("n")
        ).first()["n"]
    )
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "round long, left_sym string, right_sym string, merged string, "
        "pair_count long, corpus_symbols_after long",
    )


# ---------------------------------------------------------------------------
# Late-interaction (multi-vector / MaxSim) retrieval
# ---------------------------------------------------------------------------

MAXSIM_NQ = 3        # query docs: doc_id < N
MAXSIM_QTOK = 8      # query-side token budget
MAXSIM_DTOK = 16     # doc-side token budget
MAXSIM_DIM = 16      # hash-projection dimensions
MAXSIM_TOP = 5

_MS_VEC = """list_transform(range(0, {dim}),
    i -> (CAST(concat('0x', substr(md5({tok} || ':' || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) % 2001 - 1000) / 1000.0)""".format(
    dim=MAXSIM_DIM, tok="{tok}"
)

# Shared MaxSim oracle fragments (the repo's shared-CTE convention:
# the standalone oracle and the ANN-rerank oracle must replay the SAME
# scoring text, differing ONLY in how `dt` — the candidate token
# relation — is built and joined).
_MS_TOKS_CTE = """toks AS (
    SELECT doc_id,
           list_sort(list_distinct(string_split_regex(trim(text), '\\s+'))) AS ts
    FROM documents
)"""

_MS_FINAL_SELECT = f"""SELECT query_id, doc_id AS cand_id, maxsim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY maxsim DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {MAXSIM_TOP}
ORDER BY query_id, maxsim DESC, cand_id"""


def _ms_scoring_ctes(dt_keys: str, sims_join: str) -> str:
    """MaxSim token-scoring CTE chain over a prepared `dt` (candidate
    tokens, keyed by ``dt_keys``) and the query slice: hash-projection
    vectors, L2 normalization, per-(query, doc, qtok) MAX cosine joined
    per ``sims_join``, DECIMAL per-pair sum."""
    return f"""qt AS (
    SELECT doc_id AS query_id, u.t AS tok
    FROM (SELECT doc_id, ts[1:{MAXSIM_QTOK}] AS ts FROM toks WHERE doc_id < {MAXSIM_NQ}),
         unnest(ts) AS u(t)
),
dv AS (
    SELECT {dt_keys}, tok,
           {_MS_VEC.format(tok="tok")} AS v
    FROM dt
),
qv AS (
    SELECT query_id, tok,
           {_MS_VEC.format(tok="tok")} AS v
    FROM qt
),
dn AS (
    SELECT {dt_keys}, tok,
           list_transform(v, x -> x / sqrt(list_reduce(
               list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
    FROM dv
),
qn AS (
    SELECT query_id, tok,
           list_transform(v, x -> x / sqrt(list_reduce(
               list_transform(v, y -> y * y), (a, b) -> a + b))) AS nv
    FROM qv
),
sims AS (
    SELECT q.query_id, d.doc_id, q.tok AS qtok,
           MAX(round(list_reduce(list_transform(list_zip(q.nv, d.nv),
                                                p -> p[1] * p[2]),
                                 (a, b) -> a + b), 9)) AS best
    FROM qn q JOIN dn d ON {sims_join}
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT query_id, doc_id,
           CAST(SUM(CAST(best AS DECIMAL(28, 9))) AS DOUBLE) AS maxsim
    FROM sims GROUP BY 1, 2
)"""


_MAXSIM_ORACLE = f"""
WITH {_MS_TOKS_CTE},
dt AS (
    SELECT doc_id, u.t AS tok
    FROM (SELECT doc_id, ts[1:{MAXSIM_DTOK}] AS ts FROM toks),
         unnest(ts) AS u(t)
),
{_ms_scoring_ctes("doc_id", "d.doc_id <> q.query_id")}
{_MS_FINAL_SELECT}
"""


def _ms_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ts): the per-doc sorted-distinct token slice BOTH
    MaxSim operators start from, as a fingerprint-cached staged
    relation (r8, same rationale as `similarity.normalized_embeddings`):
    the regex tokenize + array_sort + slice is a per-row expression
    chain that the late-interaction plan evaluated THREE times (doc
    occurrences, query side, vocab) and the rerank twice. Strings
    round-trip parquet exactly, so staged values are the engine's own."""
    import os

    from kamiyo_hive_spark.operators.similarity import _staged_index_df
    from kamiyo_hive_spark.sources.sinks import SCRATCH, ensure_staging

    out = f"{SCRATCH}/maxsim_toks_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "documents.parquet")
    d = ensure_staging(
        out,
        source,
        lambda tmp: table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.slice(
                F.array_sort(F.array_distinct(_tokens())), 1, MAXSIM_DTOK
            ).alias("ts"),
        )
        # natural width ON PURPOSE (no repartition): MaxSim's downstream
        # work shuffles almost immediately — one file per core only
        # added task scheduling (A/B r8: 1.00 s vs 1.33 s late-
        # interaction at sf0.1, where the input is one split); at scale
        # the scan's natural splits keep build and readers parallel.
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return _staged_index_df(spark, d)


@register(
    "maxsim_late_interaction",
    oracle=_MAXSIM_ORACLE,
    tags=("retrieval", "colbert", "maxsim", "multi-vector"),
)
def maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (the ColBERT scoring shape): a query
    is a BAG of token vectors, a document is a bag of token vectors,
    and score(q, d) = Σ over query tokens of the MAX cosine against
    any document token — the fine-grained matcher that beats single-
    vector retrieval on term-level relevance. Token vectors here are
    deterministic hash projections (the `quality_classifier_score`
    stand-in convention: swapping in real learned embeddings changes
    the vector SOURCE, not one line of the plan), token bags are the
    first {MAXSIM_DTOK}/{MAXSIM_QTOK} distinct tokens per side
    (lexicographic — engine-portable), cosines are rounded to 9 dp and
    the per-(query, doc) sum runs over DECIMAL.

    Plan — similarity is a function of the token STRING, so the cosine
    table is computed once per (DISTINCT token × query token), never
    per occurrence: vocab×queries folds (744 rows here) instead of a
    fold on every (doc-token, query-token) pair (1.9M at sf0.1 — the
    naive shape measured 26-29 s; this factoring runs in ~2.7 s, same
    values). The occurrence-scale work is then a broadcast EQUI-join
    lookup of precomputed sims + ONE partial-agg exchange: query
    tokens are identified by POSITION (posexplode of the per-query
    distinct slice, so qpos↔qtok is bijective within a query) and the
    per-(q, d, qtok) MAX pivots into {MAXSIM_QTOK} conditional-max
    buffers keyed by (q, d) — the map side combines straight down to
    one row per candidate pair, and the Σ-over-query-tokens is a
    zero-exchange decimal fold across those buffers (decimal addition
    is exact, so buffer order can't perturb the hash). r4 shape was
    two exchanges (max-per-(q, d, qtok), then sum-per-(q, d)); fusing
    them halved the shuffled cells and dropped a whole stage. At
    100 TB the candidate set comes from the ANN index
    (`knn_lsh_partitioned`) and MaxSim reranks only that pool; the
    vocab-factored sim table is the same trick production
    late-interaction rerankers use for their query-side cache."""
    # staged token relation (r8): tokenize+sort+slice was re-evaluated
    # per consumer (occurrences, query side, vocab) by CollapseProject
    toks = _ms_toks(spark, sf_dir)

    dt = toks.select("doc_id", F.explode("ts").alias("tok"))
    vocab = dt.select("tok").distinct().withColumn(
        "nv", _ms_normalize(_ms_hash_vec("tok"))
    )
    qt = (
        toks.filter(F.col("doc_id") < MAXSIM_NQ)
        .select(
            F.col("doc_id").alias("query_id"),
            F.posexplode(F.slice("ts", 1, MAXSIM_QTOK)).alias("qpos", "qtok"),
        )
        .withColumn("qnv", _ms_normalize(_ms_hash_vec("qtok")))
    )
    sim = F.round(
        F.aggregate(
            F.zip_with(F.col("qnv"), F.col("nv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        9,
    )
    # vocab × queries sim table, pivoted to ONE dense sims map per
    # distinct token: key j = query_id * QTOK + qpos identifies the
    # query token (qpos↔qtok is bijective inside a query), value = the
    # 9dp-rounded cosine. The map is vocab-scale (tiny next to the
    # corpus) and broadcast EXPLICITLY — the sims lookup must never
    # shuffle the occurrence relation. vtok rename: vocab derives from
    # dt, so joining on the same attribute would resolve to a
    # trivially-true predicate (the derived-frame self-join trap).
    # (A "compile the 744 cosines to literal codegen arithmetic"
    # variant was A/B'd and ran 2× SLOWER: the ~2000-node expression
    # tree pays seconds of analyzer/janino time — the known
    # mega-expression trap. The HOF folds here are vocab-scale and
    # cheap.)
    nq_slots = MAXSIM_NQ * MAXSIM_QTOK
    simmap = (
        vocab.crossJoin(F.broadcast(qt))
        .groupBy(F.col("tok").alias("vtok"))
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("query_id") * MAXSIM_QTOK + F.col("qpos")).alias(
                            "j"
                        ),
                        sim.alias("s"),
                    )
                )
            ).alias("sims")
        )
    )
    # One fused corpus aggregation: per doc, nq_slots conditional MAX
    # buffers (one per query token of every query) collapse the whole
    # occurrence relation to |docs| rows map-side — the ONLY corpus
    # exchange in the query. A slot missing from the map (query
    # shorter than the budget) looks up NULL, max stays NULL, and the
    # decimal fold skips it exactly as SUM skips absent groups.
    per_doc = (
        dt.join(F.broadcast(simmap), dt["tok"] == simmap["vtok"])
        .groupBy("doc_id")
        .agg(
            *[
                F.max(F.element_at("sims", F.lit(j))).alias(f"s{j}")
                for j in range(nq_slots)
            ]
        )
    )

    def qscore(q: int) -> Column:
        total = None
        for p in range(MAXSIM_QTOK):
            term = F.coalesce(
                F.col(f"s{q * MAXSIM_QTOK + p}").cast("decimal(28,9)"),
                F.lit(0).cast("decimal(28,9)"),
            )
            total = term if total is None else total + term
        return total.cast("double")

    # Unpivot the per-query sums to (query_id, doc_id, maxsim) rows —
    # MAXSIM_NQ-wide stack over an already-|docs|-sized frame.
    scored = (
        per_doc.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).cast("long").alias("query_id"),
                            qscore(q).alias("maxsim"),
                        )
                        for q in range(MAXSIM_NQ)
                    ]
                )
            ).alias("qs"),
        )
        .select(F.col("qs.query_id"), "doc_id", F.col("qs.maxsim"))
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAXSIM_TOP)
        .select("query_id", F.col("doc_id").alias("cand_id"), "maxsim")
        .orderBy("query_id", F.desc("maxsim"), "cand_id")
    )
    # candidate-scale intermediates under an input-sized width (A/B
    # best-of-3 ×2 at sf0.1: 2.50/2.73 → 2.32/2.55 s)
    from kamiyo_hive_spark.catalog import input_sized_shuffle

    with input_sized_shuffle(spark, sf_dir, "documents"):
        return out.localCheckpoint()


# ---------------------------------------------------------------------------
# ANN-pool -> MaxSim rerank (the production late-interaction composition)
# ---------------------------------------------------------------------------

MAXSIM_POOL = 40  # ANN candidates per query fed to the reranker


def _ms_hash_vec(tok_col):
    """The maxsim hash-projection token vector — ONE expression tree
    shared by `maxsim_late_interaction` and the ANN rerank, so the
    score-parity the tests enforce can never drift between them.

    Built as a single `transform(sequence(...))` SQL expression rather
    than a {MAXSIM_DIM}-way unrolled `F.array(...)`: the unrolled form
    cost ~130 py4j round-trips per call site (~0.5 s of pure driver
    plan-build, measured) and a proportionally large codegen unit; the
    folded form is one parser call and one tight loop in codegen.
    Values are bit-identical (same md5/conv/modulo chain; `1000.0D`
    keeps the division in DOUBLE, never decimal)."""
    if not isinstance(tok_col, str):
        # JVM Column.toString() is not guaranteed parseable SQL —
        # refuse non-string input rather than splice a debug repr.
        raise TypeError(
            f"_ms_hash_vec expects a SQL expression string, got {type(tok_col).__name__}"
        )
    tok_sql = tok_col
    return F.expr(
        f"transform(sequence(0, {MAXSIM_DIM - 1}), i -> "
        f"(CAST(conv(substring(md5(concat_ws(':', {tok_sql}, CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT) "
        f"% 2001 - 1000) / 1000.0D)"
    )


def _ms_normalize(v):
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / n)


def _maxsim_ann_oracle() -> str:
    """DuckDB replay of the FULL composition: the shared SRP CTE block
    (`similarity.srp_cte_block` — the `knn_lsh_cosine` oracle's exact
    text) generalized to MAXSIM_NQ queries for the pool, then the
    shared MaxSim scoring chain (`_ms_scoring_ctes` — the
    `maxsim_late_interaction` oracle's exact text) restricted to each
    query's pool."""
    from kamiyo_hive_spark.operators.similarity import srp_cte_block

    return f"""
WITH {srp_cte_block()},
qb AS (SELECT vec_id AS query_id, bucket AS qbucket
       FROM buckets WHERE vec_id < {MAXSIM_NQ}),
probes AS (
    SELECT query_id, qbucket AS pb FROM qb
    UNION
    SELECT query_id, xor(qbucket, CAST(1 << j AS BIGINT)) FROM qb CROSS JOIN planes
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {MAXSIM_NQ}),
cand AS (
    SELECT p.query_id, e.vec_id, e.v, q.qv
    FROM e
    JOIN buckets b USING (vec_id)
    JOIN probes p ON p.pb = b.bucket
    JOIN q ON q.query_id = p.query_id
    WHERE e.vec_id <> p.query_id
),
scored_pool AS (
    SELECT query_id, vec_id,
           round(
             list_reduce(list_prepend(0.0,
                 list_transform(list_zip(v, qv), z -> z[1] * z[2])), (a, x) -> a + x)
             / (sqrt(list_reduce(list_prepend(0.0,
                    list_transform(v, x -> x * x)), (a, x) -> a + x))
                * sqrt(list_reduce(list_prepend(0.0,
                    list_transform(qv, x -> x * x)), (a, x) -> a + x))), 9)
               AS cosine_sim
    FROM cand
),
pool AS (
    SELECT query_id, vec_id AS cand_id
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, vec_id) AS rn
          FROM scored_pool)
    WHERE rn <= {MAXSIM_POOL}
),
{_MS_TOKS_CTE},
dt AS (
    SELECT p.query_id, t.doc_id, u.t AS tok
    FROM pool p,
         (SELECT doc_id, ts[1:{MAXSIM_DTOK}] AS ts FROM toks) t,
         unnest(t.ts) AS u(t)
    WHERE t.doc_id = p.cand_id
),
{_ms_scoring_ctes("query_id, doc_id", "d.query_id = q.query_id")}
{_MS_FINAL_SELECT}
"""


def maxsim_ann_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate pool for the MAXSIM_NQ rerank queries: per query,
    the top-MAXSIM_POOL exact cosines among the vectors in its SRP
    bucket's hamming-1 multiprobe set, read off the bucket-PARTITIONED
    index (`lsh_index_dir`) so the probe reaches the scan as
    PartitionFilters. Returns (query_id, cand_id); exposed module-level
    so tests can assert the pruning on the pool plan itself."""
    from pyspark.sql import Window

    from kamiyo_hive_spark.operators.similarity import (
        _dot as _vdot,
        _hyperplanes,
        _norm as _vnorm,
        lsh_index_df,
        srp_probe_set,
    )

    planes = _hyperplanes()
    # The NQ query vectors are request metadata, not corpus: read them
    # driver-side (similarity.query_vecs — pyarrow, row-group pruned,
    # exact float32 widening) instead of paying a whole Spark job for
    # 3 rows. (VERDICT r6 task 2: this removes one of the rerank's
    # sequential driver-job barriers.)
    from kamiyo_hive_spark.operators.similarity import query_vecs

    probe_pairs = []
    queries = []
    for vid, q in query_vecs(sf_dir, MAXSIM_NQ):
        queries.append((vid, q))
        for pb in srp_probe_set(q, planes):
            probe_pairs.append((vid, pb))
    all_buckets = sorted({pb for _, pb in probe_pairs})

    idx = lsh_index_df(spark, sf_dir)
    probes_df = spark.createDataFrame(probe_pairs, "query_id long, bucket long")
    queries_df = spark.createDataFrame(queries, "query_id long, qv array<double>")
    v = F.col("embedding").cast("array<double>")
    pool_sim = F.round(
        _vdot(v, F.col("qv")) / (_vnorm(v) * _vnorm(F.col("qv"))), 9
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        idx.filter(F.col("bucket").isin(all_buckets))
        .join(F.broadcast(probes_df), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(queries_df), "query_id")
        .select("query_id", "vec_id", pool_sim.alias("cosine_sim"))
        .withColumn("rn", F.row_number().over(w_pool))
        .filter(F.col("rn") <= MAXSIM_POOL)
        .select("query_id", F.col("vec_id").alias("cand_id"))
    )


@register(
    "maxsim_ann_rerank",
    oracle=_maxsim_ann_oracle(),
    tags=("retrieval", "colbert", "maxsim", "ann-lsh", "rerank", "composition"),
)
def maxsim_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production late-interaction composition the
    `maxsim_late_interaction` docstring promises: an ANN stage
    (`lsh_index_dir`'s bucket-PARTITIONED SRP index, hamming-1
    multiprobe, exact-cosine top-{MAXSIM_POOL}) supplies each query's
    candidate pool, and MaxSim token scoring reranks ONLY that pool.
    Standalone maxsim pays two corpus-scale passes by construction;
    here the corpus never enters the rerank — its cost tracks
    NQ x POOL, not |docs|.

    Plan shape, stage by stage:
    - ANN pool: the probe buckets are computed driver-side from the
      deterministic hyperplanes (metadata: NQ vectors), reach the index
      scan as PartitionFilters (~9/256 directories per query), and a
      broadcast (query_id, bucket) map fans matching vectors out to
      their probing queries; per-query top-POOL is a window over the
      pool-scale candidate relation.
    - Bridge: the pool ids (NQ x POOL rows, metadata) are collected and
      pushed into the documents scan as an `isin` predicate — at 100 TB
      this is the ANN-then-multiget shape every serving stack uses; the
      token relation entering the rerank is pool-sized.
    - Rerank: vocab-factored sims (the maxsim trick — cosines are a
      function of the token STRING, computed once per distinct pool
      token x query token, broadcast as one dense map), then ONE
      partial-agg exchange keyed (query_id, doc_id) with QTOK
      conditional-max buffers, decimal fold, per-query top-{MAXSIM_TOP}.

    The oracle replays the ENTIRE composition in DuckDB — hyperplane
    bits, multiprobe, pool ranking, token scoring — so the approximation
    itself is hash-checked end to end (the `knn_lsh_cosine` +
    `maxsim_late_interaction` oracles composed, literally)."""
    from pyspark.sql import Window

    pool_df = maxsim_ann_pool(spark, sf_dir)
    # metadata-bounded collect (NQ x POOL ids): the pool feeds the
    # documents scan as a pushed-down point-multiget, exactly the
    # ANN-then-fetch shape a serving stack runs.
    pool_rows = [(int(r["query_id"]), int(r["cand_id"])) for r in pool_df.collect()]
    pool_pairs = spark.createDataFrame(pool_rows, "query_id long, cand_id long")
    cand_ids = sorted({c for _, c in pool_rows})

    toks = _ms_toks(spark, sf_dir)  # staged (r8): see maxsim_late_interaction
    dt = (
        toks.filter(F.col("doc_id").isin(cand_ids))
        .join(F.broadcast(pool_pairs), toks["doc_id"] == pool_pairs["cand_id"])
        .select("query_id", "doc_id", F.explode("ts").alias("tok"))
    )
    qt = (
        toks.filter(F.col("doc_id") < MAXSIM_NQ)
        .select(
            F.col("doc_id").alias("query_id"),
            F.posexplode(F.slice("ts", 1, MAXSIM_QTOK)).alias("qpos", "qtok"),
        )
        .withColumn("qnv", _ms_normalize(_ms_hash_vec("qtok")))
    )
    vocab = dt.select("tok").distinct().withColumn(
        "nv", _ms_normalize(_ms_hash_vec("tok"))
    )
    sim = F.round(
        F.aggregate(
            F.zip_with(F.col("qnv"), F.col("nv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        9,
    )
    simmap = (
        vocab.crossJoin(F.broadcast(qt))
        .groupBy(F.col("tok").alias("vtok"))
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("query_id") * MAXSIM_QTOK + F.col("qpos")).alias("j"),
                        sim.alias("s"),
                    )
                )
            ).alias("sims")
        )
    )
    # QTOK conditional-max buffers per (query, candidate): the slot key
    # is dynamic (query_id * QTOK + p) — each pair only aggregates its
    # own query's slots, unlike standalone maxsim's all-queries pivot.
    # Slot aggs and the decimal fold as single parsed expressions: the
    # unrolled F.* form cost ~50 py4j round-trips of plan-build here.
    per_pair = (
        dt.join(F.broadcast(simmap), dt["tok"] == simmap["vtok"])
        .groupBy("query_id", "doc_id")
        .agg(
            *[
                F.expr(
                    f"max(element_at(sims, query_id * {MAXSIM_QTOK} + {p}L)) AS s{p}"
                )
                for p in range(MAXSIM_QTOK)
            ]
        )
    )
    total = F.expr(
        " + ".join(
            f"coalesce(CAST(s{p} AS DECIMAL(28,9)), CAST(0 AS DECIMAL(28,9)))"
            for p in range(MAXSIM_QTOK)
        )
    )
    w_out = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    out = (
        per_pair.select("query_id", "doc_id", total.cast("double").alias("maxsim"))
        .withColumn("rn", F.row_number().over(w_out))
        .filter(F.col("rn") <= MAXSIM_TOP)
        .select("query_id", F.col("doc_id").alias("cand_id"), "maxsim")
        .orderBy("query_id", F.desc("maxsim"), "cand_id")
    )
    from kamiyo_hive_spark.catalog import input_sized_shuffle

    with input_sized_shuffle(spark, sf_dir, "embeddings"):
        return out.localCheckpoint()
