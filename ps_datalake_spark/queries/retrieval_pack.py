"""Retrieval / training-pair operators (round 5, session 3): BM25 full-text
ranking, single-pass column profiling, deterministic negative sampling for
contrastive training pairs, and positional explode — the retrieval-side
staples of a training-data pipeline (corpus search, data quality audits,
and (user, item) pair construction for recommender/contrastive objectives).

Scale design notes (100 TB):
  * BM25 is the posting-list shape end-to-end: tokenize once, aggregate
    (doc, term) partials map-side, join the tiny per-term df/idf relation
    broadcast onto the postings — the fact-sized postings table never
    re-shuffles, and per-term top-k is a bounded window per term;
  * profiling computes EVERY column's stats in one scan (one aggregate with
    count/null/ndv/min/max/sum per column, long-formed by an Expand — the
    ANALYZE-TABLE pattern; never one pass per column);
  * negative sampling anti-joins the bounded candidate grid (distinct users
    x distinct types — both dimension-sized) against the positives and
    membership-samples by content hash, so the sample is reproducible at
    any scale and on any engine (same sha256-bucket trick as b43);
  * posexplode is a Generate with ordinal — same single-scan explode shape
    as b25, plus the position column sequence models need for truncation.

Determinism: BM25 scores round to 6dp BEFORE ranking on both engines (ties
then break on doc_id), sums go through DECIMAL(18,2), and the sampling hash
is the engine-portable sha256 bucket from sampling_rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ._util import T, dround, dump_plan, tiny_sort
from .sampling_rollup import _HASH_PCT_SQL, _hash_pct

# BM25 constants (Robertson et al.; the standard Lucene/ES defaults)
_K1 = 1.2
_B = 0.75

# Python twin of the JVM tokenization `split(lower(trim(text)), '\s+')`
# + `term != ''` used by every text query and the DuckDB oracles.  The
# subtle parts, each chosen to match JVM semantics EXACTLY (the divergence
# risk that kept the pandas postings build unshipped in r12):
#   * Java regex \s is ASCII-only [ \t\n\x0B\f\r]; Python's \s on str is
#     Unicode-aware (would also split on \xa0,  , ...) — so the class
#     is spelled out;
#   * Spark's trim strips 0x20 only (UTF8String.trimAll is not used) —
#     irrelevant to the token stream because leading/trailing separators
#     produce '' tokens that the != '' filter drops, but strip(' ') keeps
#     the twin literal;
#   * str.lower() matches UTF8String.toLowerCase's full case mapping on
#     this corpus — pinned per-document over EVERY fixture document by
#     tests/test_retrieval_pack.py::test_bm25_python_tokenizer_matches_jvm.
import re as _re

_JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def _py_tokens(text: str) -> list[str]:
    """Tokens exactly equal to the JVM split(lower(trim(text)), '\\s+')
    stream after the `term != ''` filter."""
    return [t for t in _JAVA_WS.split(text.strip(" ").lower()) if t]


def _bm25_postings(batches):
    """mapInPandas postings builder: one (doc_id, term, tf, dl) row per
    distinct term per document — tf/dl computed per-doc in one Python pass,
    so the downstream plan needs neither the token-stream exchange (the raw
    exploded tokens never leave the worker) nor the per-doc-length join
    (dl rides on every postings row)."""
    from collections import Counter

    import pandas as pd

    for pdf in batches:
        out_doc: list = []
        out_term: list = []
        out_tf: list = []
        out_dl: list = []
        for doc, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue  # NULL text explodes to no rows on the JVM path
            toks = _py_tokens(text)
            if not toks:
                continue
            dl = float(len(toks))
            for term, c in Counter(toks).items():
                out_doc.append(doc)
                out_term.append(term)
                out_tf.append(float(c))
                out_dl.append(dl)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "term": pd.Series(out_term, dtype="object"),
                "tf": pd.Series(out_tf, dtype="float64"),
                "dl": pd.Series(out_dl, dtype="float64"),
            }
        )


@query(
    "b64_bm25_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    t AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    qterms AS (
      SELECT term FROM t WHERE length(term) >= 4
      GROUP BY term ORDER BY count(*) DESC, term LIMIT 3
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM t GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM t GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     avg(dl) AS avgdl FROM dl),
    dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
            FROM tf JOIN qterms USING (term) GROUP BY 1),
    scored AS (
      SELECT tf.term, tf.doc_id,
             round(ln(1 + (n - df + 0.5) / (df + 0.5))
                   * ((tf * ({_K1} + 1))
                      / (tf + {_K1} * (1 - {_B} + {_B} * (dl / avgdl)))),
                   6) AS score
      FROM tf
      JOIN dfq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
    SELECT term, doc_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT term, doc_id, score,
                 row_number() OVER (PARTITION BY term
                                    ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 5 ORDER BY term, rnk
    """,
    tags=("B37", "retrieval"),
    doc="BM25 (k1=1.2, b=0.75) top-5 documents for the corpus's three most "
    "frequent >=4-char terms — the query set derives from the corpus itself "
    "so the test is fixture-robust. Posting-list shape: (doc, term) partials "
    "aggregate map-side; the 3-row idf relation and the per-doc lengths "
    "broadcast onto the postings; ranking is a bounded per-term window. "
    "Scores round to 6dp on both engines BEFORE ranking (ties -> doc_id), "
    "so the rank comparison cannot straddle a libm ulp.",
)
def b64_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread

    # _spread (conditional repartition): under the eager-builder heavy
    # profile (128 MB splits) the whole corpus scans as ONE task, so the
    # per-document postings pass — the measured dominator of this query —
    # would run single-threaded.  Widening costs one exchange of raw text
    # (~30 MB at the 10x probe) and parallelizes it 32-way (r12: 3.81 ->
    # 1.91 s at 10x).  At real scale the scan already has enough splits and
    # the guard skips the shuffle.
    docs = _spread(T(spark, sf_dir, "documents").select("doc_id", "text"))
    # Postings built in ONE Arrow-batched Python pass (guide §4.2; one
    # exchange fewer, but timing was a wash at 10x: 1.274 s vs 1.264 s): a
    # per-doc Counter emits (doc_id, term, tf, dl), so
    #   * the raw token stream never crosses an exchange (the old JVM
    #     explode shipped every token to the (doc_id, term) aggregate), and
    #   * dl rides each postings row — the per-doc-length shuffle+join is
    #     gone (stats fold to one aggregate: n = countDistinct(doc_id),
    #     avgdl = sum(tf)/n, exact because dl = sum of tf per doc).
    # Tokenization is the Python twin `_py_tokens` of the JVM expression,
    # equivalence-pinned per document over every fixture corpus by
    # tests/test_retrieval_pack.py (the divergence risk that kept this
    # unshipped in r12).  Postings aggregate ONCE (lazy localCheckpoint):
    # every downstream relation (corpus stats, query terms, document
    # frequencies, scores) derives from it — one pass, not four, over
    # 100 TB.
    postings = docs.mapInPandas(
        _bm25_postings, "doc_id long, term string, tf double, dl double"
    )
    dump_plan(postings, "b64_bm25_topk_builder")  # pre-checkpoint builder job
    tf = postings.localCheckpoint(eager=False)
    # n/avgdl are EXACT re-expressions of the old per-doc-length relation:
    # tf and dl are integer-valued doubles, sum(tf) == sum over docs of dl
    # with no rounding (integers < 2^53), so avgdl is bit-identical.
    stats = tf.agg(
        F.countDistinct("doc_id").cast("double").alias("n"),
        F.sum("tf").alias("_total"),
    ).select("n", (F.col("_total") / F.col("n")).alias("avgdl"))
    qterms = (
        tf.where(F.length("term") >= 4)
        .groupBy("term")
        .agg(F.sum("tf").alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(3)
        .select("term")
    )
    dfq = (
        tf.join(F.broadcast(qterms), "term")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            dround(
                F.log(
                    1
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (
                    (F.col("tf") * (_K1 + 1))
                    / (
                        F.col("tf")
                        + _K1
                        * (1 - _B + _B * (F.col("dl") / F.col("avgdl")))
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), "doc_id")
    ranked = scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    return tiny_sort(ranked.where(F.col("rnk") <= 5), "term", "rnk")


@query(
    "b64_profile_table",
    oracle="""
    SELECT 'l_discount' AS col, count(*) AS n,
           CAST(count(*) - count(l_discount) AS BIGINT) AS nulls,
           CAST(count(DISTINCT l_discount) AS BIGINT) AS ndv,
           CAST(min(l_discount) AS DOUBLE) AS lo,
           CAST(max(l_discount) AS DOUBLE) AS hi,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*),
           count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE),
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', count(*),
           count(*) - count(l_quantity),
           count(DISTINCT l_quantity),
           CAST(min(l_quantity) AS DOUBLE),
           CAST(max(l_quantity) AS DOUBLE),
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem
    ORDER BY col
    """,
    tags=("B10", "profiling"),
    doc="Single-pass column profiler (the ANALYZE-TABLE shape): count / "
    "nulls / exact ndv / min / max / decimal-exact sum for three lineitem "
    "measures, computed in ONE aggregate over ONE scan (multi-column "
    "count-distinct plans an Expand) and long-formed by exploding a struct "
    "array. The DuckDB oracle spells it as three scalar aggregates for "
    "clarity; the engine side must not re-scan per column.",
)
def b64_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["l_discount", "l_extendedprice", "l_quantity"]
    li = T(spark, sf_dir, "lineitem").select(*cols)
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__ndv"),
            F.min(c).cast("double").alias(f"{c}__lo"),
            F.max(c).cast("double").alias(f"{c}__hi"),
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("double")
            .alias(f"{c}__total"),
        ]
    wide = li.agg(*aggs)
    long = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"{c}__n").alias("n"),
                        F.col(f"{c}__nulls").alias("nulls"),
                        F.col(f"{c}__ndv").alias("ndv"),
                        F.col(f"{c}__lo").alias("lo"),
                        F.col(f"{c}__hi").alias("hi"),
                        F.col(f"{c}__total").alias("total"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    return tiny_sort(long, "col")


@query(
    "b64_negative_sampling",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             event_type || '@' || strftime(date_trunc('day', ts), '%Y-%m-%d')
               AS item
      FROM events WHERE user_id < 200
    ),
    users AS (SELECT DISTINCT user_id FROM e),
    items AS (SELECT DISTINCT item FROM e),
    grid AS (SELECT user_id, item FROM users CROSS JOIN items),
    pos AS (SELECT DISTINCT user_id, item FROM e),
    neg AS (
      SELECT g.user_id, g.item FROM grid g
      ANTI JOIN pos p ON g.user_id = p.user_id AND g.item = p.item
    )
    SELECT user_id, item,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
             AS user_neg_count
    FROM neg
    WHERE {_HASH_PCT_SQL.format(k="CAST(user_id AS VARCHAR) || ':' || item")} < 30
    ORDER BY user_id, item
    """,
    tags=("B43", "llm", "retrieval"),
    doc="Deterministic negative sampling for contrastive/recommender "
    "training pairs: items are (event_type, day) interactions, the "
    "candidate grid is a cross join of two DIMENSION-sized distinct sets "
    "— never the fact table — anti-joined against the observed positives, "
    "then a reproducible 30% kept by the engine-portable sha256 bucket "
    "(same membership on Spark, DuckDB, and any re-run at any scale). "
    "user_neg_count carries the per-user sample size the training loader "
    "balances against the positives.",
)
def b64_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        T(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select(
            "user_id",
            F.concat(
                "event_type", F.lit("@"), F.date_format("ts", "yyyy-MM-dd")
            ).alias("item"),
        )
    )
    # the fact table collapses to the dimension-sized positives ONCE; the
    # users/items axes then derive from positives (not from fresh event
    # scans) — one pass over the fact at any scale
    pos = ev.distinct().localCheckpoint(eager=False)
    users = pos.select("user_id").distinct()
    items = pos.select("item").distinct()
    grid = users.crossJoin(F.broadcast(items))
    neg = grid.join(pos, ["user_id", "item"], "left_anti")
    key = F.concat_ws(":", F.col("user_id").cast("string"), "item")
    sampled = neg.where(_hash_pct(key) < 30)
    counted = sampled.withColumn(
        "user_neg_count",
        F.count("*").over(Window.partitionBy("user_id")).cast("bigint"),
    )
    return tiny_sort(counted, "user_id", "item")


@query(
    "b64_posexplode",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS a
      FROM documents WHERE doc_id < 20 AND text IS NOT NULL
    )
    SELECT doc_id, pos, word FROM (
      SELECT doc_id,
             CAST(unnest(range(1, len(a) + 1)) AS BIGINT) AS pos,
             unnest(a) AS word
      FROM w
    ) WHERE pos <= 6 ORDER BY doc_id, pos
    """,
    tags=("B25", "retrieval"),
    doc="Positional explode (posexplode): the first six (position, token) "
    "pairs per document — the ordinal the sequence-truncation step of a "
    "tokenizer pipeline needs. One Generate over one scan; the DuckDB "
    "oracle zips unnest(range(...)) with unnest(arr) (positional zip of "
    "same-length lists). Spark's 0-based pos shifts to 1-based to match.",
)
def b64_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 20) & F.col("text").isNotNull()
    )
    words = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("a")
    )
    exploded = words.select(
        "doc_id", F.posexplode("a").alias("pos0", "word")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "word"
    )
    return tiny_sort(exploded.where(F.col("pos") <= 6), "doc_id", "pos")


@query(
    "b64_phrase_search",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    post AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM docs
    ),
    postings AS (SELECT doc_id, pos, ws[pos] AS word FROM post),
    phrases AS (
      SELECT * FROM (VALUES
        ('hash join'), ('table scan'), ('fast merge'), ('window sort')
      ) AS t(phrase)
    ),
    q AS (
      SELECT phrase,
             string_split(phrase, ' ')[1] AS w1,
             string_split(phrase, ' ')[2] AS w2
      FROM phrases
    ),
    hits AS (
      SELECT q.phrase, p1.doc_id
      FROM q
      JOIN postings p1 ON p1.word = q.w1
      JOIN postings p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                      AND p2.word = q.w2
    ),
    per_doc AS (
      SELECT phrase, doc_id, count(*) AS c FROM hits GROUP BY phrase, doc_id
    )
    SELECT phrase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(c) AS BIGINT) AS n_occ,
           CAST(min(doc_id) FILTER (WHERE rnk = 1) AS BIGINT) AS top_doc
    FROM (
      SELECT phrase, doc_id, c,
             rank() OVER (PARTITION BY phrase ORDER BY c DESC, doc_id) AS rnk
      FROM per_doc
    )
    GROUP BY phrase ORDER BY phrase
    """,
    tags=("B37", "retrieval"),
    doc="Exact-phrase retrieval over a POSITIONAL inverted index (the "
    "capability BM25's bag-of-words postings cannot express): postings "
    "carry (doc_id, pos, word); a two-term phrase matches via a keyed "
    "self-join on (doc_id, pos+1) — distributed on the doc/position key, "
    "never a cartesian, and the first-term postings fetch prunes the join "
    "to matching docs exactly as a posting-list intersection would at "
    "100 TB. Emits per-phrase document frequency, total occurrences, and "
    "the best-matching doc (count DESC, doc_id ASC).",
)
def b64_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    postings = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "pos0", "word"
            ),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    )
    phrases = spark.createDataFrame(
        [("hash join",), ("table scan",), ("fast merge",), ("window sort",)],
        "phrase string",
    ).select(
        "phrase",
        F.split("phrase", " ").getItem(0).alias("w1"),
        F.split("phrase", " ").getItem(1).alias("w2"),
    )
    p1 = postings.alias("p1")
    p2 = postings.alias("p2")
    hits = (
        p1.join(F.broadcast(phrases), F.col("p1.word") == F.col("w1"))
        .join(
            p2,
            (F.col("p2.doc_id") == F.col("p1.doc_id"))
            & (F.col("p2.pos") == F.col("p1.pos") + 1)
            & (F.col("p2.word") == F.col("w2")),
        )
        .select("phrase", F.col("p1.doc_id").alias("doc_id"))
    )
    per_doc = hits.groupBy("phrase", "doc_id").agg(F.count("*").alias("c"))
    wr = Window.partitionBy("phrase").orderBy(F.col("c").desc(), "doc_id")
    out = (
        per_doc.withColumn("rnk", F.rank().over(wr))
        .groupBy("phrase")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("c").cast("bigint").alias("n_occ"),
            F.min(F.when(F.col("rnk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("top_doc"),
        )
    )
    return tiny_sort(out, "phrase")
