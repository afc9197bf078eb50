"""LLM training-data pipeline queries: SURVEY.md §2B B34–B37 + multimodal.

Thin registrations over the real implementations in
``ps_datalake_spark.operators`` (dedup / similarity / text / multimodal).
Exact operators are oracle-checked against DuckDB directly. Hash-family
operators (MinHash, SimHash, xxhash64 sampling) use Spark-internal hashes
DuckDB cannot reproduce, so their oracles are built constructively instead:
planted exact duplicates whose recall and score are deterministic by
construction (identical input ⇒ identical signature ⇒ guaranteed candidate,
similarity exactly 1.0 / hamming exactly 0), or — for xxhash64 sampling — a
pure-Python XXH64 replica that predicts the sampled id set. The only
remaining rows-only query is b37_tfidf_ml (HashingTF bucket collisions make
the norm value engine-internal); its exact counterpart b37_tfidf_top is
fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..registry import query
from ._util import T, dround, tiny_sort


# ---------------------------------------------------------------------------
# B34 — exact dedup
# ---------------------------------------------------------------------------

@query(
    "b34_exact_dedup",
    oracle="""
    SELECT sha256(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           count(*) AS copies
    FROM documents
    GROUP BY sha256(text)
    """,
    tags=("B34", "llm"),
    doc="Content-hash dedup over documents (reference put-idempotence at "
    "corpus scale). Data-proportional output: final sort omitted on both "
    "sides (sorted-multiset comparison — see b37_token_stats).",
)
def b34_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# B35 — near-dup detection (exact Jaccard oracle + MinHash/SimHash scale paths)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3
    ORDER BY id_a, id_b
    """


@query(
    "b35_jaccard_pairs",
    oracle=_JACCARD_ORACLE,
    tags=("B35", "llm"),
    doc="Exact word-3-gram Jaccard near-dup pairs (threshold 0.3) — the "
    "verification stage of the dedup pipeline, posting-list join (keyed on "
    "shingle, never docs×docs).",
)
def b35_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    return pairs.select("id_a", "id_b", dround("jaccard", 4).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


def _planted_text_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ 10 planted EXACT duplicates of docs 0-9 (id = doc_id +
    100000, text byte-identical).

    Identical text ⇒ identical shingle set ⇒ identical MinHash signature /
    SimHash fingerprint / HashingTF features, so every banded-LSH bucket of
    the copy coincides with the original's and the (original, copy) candidate
    pair is generated with probability 1 — recall is deterministic by
    construction, not by hash luck (the round-3 planted-oracle pattern from
    b36_cosine_neardup_lsh). Estimated similarity of an identical pair is
    exactly 1.0 / hamming exactly 0, so the scored output is SQL-predictable
    even though the signatures themselves are Spark-internal hashes.
    doc_ids are dense 0..N-1 with N ≤ 5000 at the driven SFs, so a pair with
    id_b - id_a == 100000 is a planted pair if and only if id_b = id_a +
    100000 (no natural pair can reach that gap).

    Only docs with non-NULL, ≥3-token text are planted — the SAME guard every
    consuming oracle applies (r4 advice: a regenerated fixture with a NULL or
    short doc in 0-9 must not silently desync corpus and oracle, and
    MinHashLSH.approxSimilarityJoin throws on all-zero vectors)."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(
        (F.col("doc_id") < 10)
        & F.col("text").isNotNull()
        & (F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) >= 3)
    ).select((F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text")
    return docs.unionByName(planted)


# The WHERE clause every planted-pair oracle must share with
# _planted_text_corpus (DuckDB spelling of the same predicate).
_PLANTED_GUARD = r"""doc_id < 10 AND text IS NOT NULL
      AND len(string_split_regex(lower(trim(text)), '\s+')) >= 3"""


@query(
    "b35_minhash_lsh",
    # signatures are Spark-internal (blake2b + affine perms), but the planted
    # exact-duplicate pairs have deterministic recall 1 and est_jaccard 1.0
    oracle=f"""
    SELECT doc_id AS id_a,
           doc_id + 100000 AS id_b,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM documents
    WHERE {_PLANTED_GUARD}
    ORDER BY id_a
    """,
    tags=("B35", "llm"),
    doc="MinHash(64) + 16-band LSH near-dup candidates with estimated Jaccard "
    "— the 100 TB-scale path (signature shuffle is O(docs×bands)) — over "
    "documents with 10 planted exact duplicates. The oracle-compared output "
    "is the planted (original, copy) pairs: identical text gives identical "
    "signatures, so their recall is 1 and est_jaccard exactly 1.0 by "
    "construction. General recall vs the exact Jaccard oracle is asserted in "
    "tests/test_llm_ops.py.",
)
def b35_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_text_corpus(spark, sf_dir)
    pairs = D.minhash_neardup_pairs(corpus, "doc_id", "text", k=64, bands=16, threshold=0.3)
    return (
        pairs.where(F.col("id_b") - F.col("id_a") == 100000)
        .select("id_a", "id_b", dround("est_jaccard", 4).alias("est_jaccard"))
        .orderBy("id_a", "id_b")
    )


@query(
    "b35_simhash",
    # fingerprints are Spark-internal (blake2b bit-packing), but a planted
    # exact duplicate has the identical fingerprint: hamming exactly 0
    oracle=f"""
    SELECT doc_id AS id_a,
           doc_id + 100000 AS id_b,
           CAST(0 AS BIGINT) AS hamming
    FROM documents
    WHERE {_PLANTED_GUARD}
    ORDER BY id_a
    """,
    tags=("B35", "llm"),
    doc="SimHash-64 near-dup pairs (hamming ≤ 3) via 4×16-bit band join + "
    "bit_count(xor) — catches hamming ≤ 3 exactly by pigeonhole — over "
    "documents with 10 planted exact duplicates. The oracle-compared output "
    "is the planted pairs (identical fingerprint ⇒ hamming 0, every band "
    "matches ⇒ recall 1 by construction).",
)
def b35_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_text_corpus(spark, sf_dir)
    pairs = D.simhash_neardup_pairs(corpus, "doc_id", "text", max_hamming=3)
    return (
        pairs.where(F.col("id_b") - F.col("id_a") == 100000)
        .select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# B36 — similarity search
# ---------------------------------------------------------------------------

_COSINE_EXPR = """
      list_aggregate(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))
         * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum')))
"""


@query(
    "b36_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             {_COSINE_EXPR} AS cos
      FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id != a.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, round(cos, 6) AS cos,
             CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, cand_id) AS BIGINT) AS rnk
      FROM scored
    )
    SELECT query_id, cand_id, cos, rnk FROM ranked WHERE rnk <= 3
    ORDER BY query_id, rnk
    """,
    tags=("B36", "llm"),
    doc="Brute-force cosine top-3 neighbors for query vectors 0-9 (broadcast "
    "queries, single corpus scan — the exact baseline for ANN).",
)
def b36_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    topk = S.cosine_topk(emb, "vec_id", "embedding", query_ids=list(range(10)), k=3)
    return topk.select("query_id", "cand_id", dround("cos", 6).alias("cos"), "rnk").transform(
        tiny_sort, "query_id", "rnk"  # ≤ |queries| × k = 30 rows
    )


@query(
    "b36_cosine_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COSINE_EXPR}, 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COSINE_EXPR} >= 0.4
    ORDER BY id_a, id_b
    """,
    tags=("B36", "llm"),
    doc="Embedding-cosine near-dup pairs (threshold 0.4), exact via keyed "
    "block-GEMM (hash blocks + applyInPandas matmul per block pair) — no "
    "cartesian product in the plan (asserted in tests/test_plans.py).",
)
def b36_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    pairs = S.cosine_neardup_blocked(emb, "vec_id", "embedding", threshold=0.4)
    return pairs.select("id_a", "id_b", dround("cos", 6).alias("cos")).orderBy("id_a", "id_b")


def _planted_neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ 10 planted near-duplicates: copies of vec_id 0-9 under a
    positive per-coordinate scaling (sign pattern — and hence every LSH
    signature — is preserved exactly, so banded-LSH recall is 1 by
    construction, not by luck)."""
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = (
        emb.where(F.col("vec_id") < 10)
        .select(
            (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x * (1.0 + 0.1 * (i % 7).cast("double") / 7.0),
            ).alias("embedding"),
        )
    )
    return emb.unionByName(planted)


_PLANTED_SQL = """
    WITH planted AS (
      SELECT vec_id + 100000 AS vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> embedding[i] * (1.0 + 0.1 * ((i - 1) % 7) / 7.0)) AS embedding
      FROM embeddings WHERE vec_id < 10
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM planted
    )
"""


@query(
    "b36_cosine_neardup_lsh",
    oracle=f"""
    {_PLANTED_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COSINE_EXPR} * 1000) / 1000 AS cos
    FROM corpus a JOIN corpus b ON b.vec_id = a.vec_id + 100000
    WHERE {_COSINE_EXPR} >= 0.9
    ORDER BY id_a, id_b
    """,
    tags=("B36", "llm"),
    doc="Sub-quadratic near-dup detection: banded sign-signature LSH "
    "candidates (keyed equi-join on (band_idx, band_val)) + exact cosine "
    "verify, threshold 0.9, over embeddings with 10 planted near-duplicates. "
    "The oracle-compared output is restricted to the planted (original, copy) "
    "pairs — positive scaling preserves sign signatures, so LSH recall is "
    "exactly 1 for THOSE pairs by construction; a natural near-dup pair "
    "elsewhere in the fixture has only probabilistic recall and would flake "
    "the comparison (ADVICE r2). The general-recall property is asserted "
    "against brute force in tests/test_llm_ops.py.",
)
def b36_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_neardup_corpus(spark, sf_dir)
    pairs = S.cosine_neardup_lsh(corpus, "vec_id", "embedding", threshold=0.9)
    return (
        pairs.where(F.col("id_b") - F.col("id_a") == 100000)
        .select("id_a", "id_b", dround("cos", 3).alias("cos"))
        .orderBy("id_a", "id_b")
    )


def _planted_scalar_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ 3 scalar-scaled copies of each query vector 0-9
    (id = 100000 + vec_id*3 + j, scale ∈ {2, 3, 4}).

    A uniform positive scalar preserves the DIRECTION exactly, so (a) every
    sign-LSH bucket bit (sign of plane·x) is identical to the original's —
    the copies land in the query's own bucket by construction; (b) after
    normalization the copy IS the query vector — IVF assigns it to the
    query's own cell by construction.  Hence both ANN paths have guaranteed
    (not probabilistic) recall on the copies, and the copies are the true
    top-3 (cos = 1.0 beats every natural candidate), making the brute-force
    DuckDB oracle deterministic."""
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    def _scale_by(c):
        # one-arg lambda: a two-parameter lambda would make F.transform pass
        # the element INDEX as the second argument and clobber the scale
        return lambda x: x * F.lit(c)

    copies = [
        emb.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") * 3 + F.lit(100000 + j)).alias("vec_id"),
            F.transform("embedding", _scale_by(scale)).alias("embedding"),
        )
        for j, scale in enumerate([2.0, 3.0, 4.0])
    ]
    out = emb
    for c in copies:
        out = out.unionByName(c)
    return out


_PLANTED_SCALAR_SQL = """
    WITH planted AS (
      SELECT e.vec_id * 3 + 100000 + s.j AS vec_id,
             list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * s.c) AS embedding
      FROM embeddings e, (VALUES (0, 2.0), (1, 3.0), (2, 4.0)) s(j, c)
      WHERE e.vec_id < 10
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id, embedding AS v FROM planted
    )
"""

# brute-force exact top-3 per query over the planted corpus; the rank column
# is dropped from the compared output because the three cos≈1.0 copies tie at
# float precision and either engine may order them differently within the tie
_ANN_ORACLE = f"""
    {_PLANTED_SCALAR_SQL},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id, {_COSINE_EXPR} AS cos
      FROM corpus a JOIN corpus b ON a.vec_id < 10 AND b.vec_id != a.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, round(cos, 6) AS cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      FROM scored
    )
    SELECT query_id, cand_id, cos FROM ranked WHERE rn <= 3
    ORDER BY query_id, cand_id
"""


@query(
    "b36_ann_lsh",
    oracle=_ANN_ORACLE,
    tags=("B36", "llm"),
    doc="ANN top-3 via deterministic random-projection LSH (6 planes, "
    "multi-probe, exact cosine within bucket) over embeddings with 3 planted "
    "scalar-scaled copies per query — same direction ⇒ same bucket ⇒ recall "
    "1 by construction, so the result equals the brute-force top-3 oracle. "
    "General recall vs brute force asserted in tests/test_llm_ops.py.",
)
def b36_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_scalar_corpus(spark, sf_dir)
    topk = S.ann_lsh_topk(corpus, "vec_id", "embedding", query_ids=list(range(10)), k=3)
    return topk.select("query_id", "cand_id", dround("cos", 6).alias("cos")).orderBy(
        "query_id", "cand_id"
    )


@query(
    "b51_embedding_quant",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (
      SELECT vec_id, v,
             list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS s
      FROM e
    ),
    qq AS (
      SELECT vec_id, v, s,
             CASE WHEN s = 0 THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> greatest(-127,
                       least(127, CAST(floor(x / s + 0.5) AS INTEGER)))) END AS qv
      FROM q
    ),
    d AS (
      SELECT vec_id, v, s, qv, list_transform(qv, x -> x * s) AS dq FROM qq
    ),
    named AS (SELECT vec_id, s, qv, v, dq AS w FROM d),
    scored AS (
      SELECT vec_id, s, qv,
             list_aggregate(list_transform(generate_series(1, len(v)),
                            i -> abs(v[i] - w[i])), 'max') AS max_err,
             list_aggregate(list_transform(generate_series(1, len(v)), i -> v[i] * w[i]), 'sum')
             / nullif(sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                * sqrt(list_aggregate(list_transform(w, x -> x * x), 'sum')), 0) AS cosf
      FROM named
    )
    SELECT vec_id,
           round(s, 6) AS q_scale,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_checksum,
           round(max_err, 6) AS max_abs_err,
           round(cosf * 10000) / 10000 AS cos_fidelity
    FROM scored ORDER BY vec_id
    """,
    tags=("B51", "llm"),
    doc="Symmetric int8 embedding quantization (the 4-8× storage-compression "
    "path of a 100 TB embedding store): per-vector scale = max|v|/127, "
    "half-up clamped integers, dequantized fidelity checked as max absolute "
    "reconstruction error + cosine(original, dequantized). All JVM "
    "higher-order expressions, shuffle-free; the explicit floor(x+0.5) "
    "rounding makes every integer — and hence every derived metric — "
    "bit-reproducible in the DuckDB oracle.",
)
def b51_embedding_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    qd = S.quantize_int8(emb, "vec_id", "embedding")
    err = F.aggregate(
        F.zip_with(F.col("_orig"), F.col("dequant"), lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    checksum = F.aggregate(
        F.col("q"), F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
    )
    cosf = S.cosine(F.col("_orig"), F.col("dequant"))
    return qd.select(
        "vec_id",
        dround("q_scale", 6).alias("q_scale"),
        checksum.alias("q_checksum"),
        dround(err, 6).alias("max_abs_err"),
        dround(cosf, 4).alias("cos_fidelity"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# B37 — text analysis
# ---------------------------------------------------------------------------

@query(
    "b37_token_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           round(list_aggregate(list_transform(t, x -> CAST(length(x) AS DOUBLE)), 'sum')
                 / len(t), 4) AS avg_token_len,
           round(CAST(len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
                 / len(t), 4) AS stopword_ratio,
           round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS punct_ratio
    FROM toks
    """,
    tags=("B37", "llm"),
    doc="Per-document token counts, lexical diversity, stopword/punct ratios. "
    "Data-proportional output: the decorative final sort is omitted on BOTH "
    "sides (rows are compared as sorted multisets — FIXTURES.md); a global "
    "sort of per-document rows at 100 TB is pure overhead, and its "
    "range-boundary sampling pass re-executes the whole upstream plan.",
)
def b37_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    st = X.token_stats(docs, "doc_id", "text")
    return st.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dround("avg_token_len", 4).alias("avg_token_len"),
        dround("stopword_ratio", 4).alias("stopword_ratio"),
        dround("punct_ratio", 4).alias("punct_ratio"),
    )


@query(
    "b37_token_count_bpe",
    oracle=r"""
    WITH c AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS bpe,
             len(string_split_regex(lower(trim(text)), '\s+')) AS words
      FROM documents
    )
    SELECT doc_id,
           CAST(bpe AS BIGINT) AS n_bpe_tokens,
           CAST(words AS BIGINT) AS n_words,
           round(CAST(bpe AS DOUBLE) / greatest(words, 1), 4) AS bpe_per_word
    FROM c ORDER BY doc_id
    """,
    tags=("B37", "llm"),
    doc="BPE-ish pre-tokenizer counting (letter runs / digit runs / "
    "punctuation runs) vs whitespace words — the training-cost budgeting "
    "metric. The identical pattern string runs in Spark's Java regex and "
    "DuckDB's RE2 (leftmost-first alternation, literal classes only), so the "
    "counts hash-match exactly.",
)
def b37_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    st = X.bpe_token_stats(docs, "doc_id", "text")
    return st.select(
        "doc_id",
        "n_bpe_tokens",
        "n_words",
        dround("bpe_per_word", 4).alias("bpe_per_word"),
    ).orderBy("doc_id")


@query(
    "b37_lang_id",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ),
    hits AS (
      SELECT doc_id,
        CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','nicht'], x))) AS BIGINT) AS hits_de,
        CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS hits_en,
        CAST(len(list_filter(t, x -> list_contains(['el','la','los','y','que'], x))) AS BIGINT) AS hits_es,
        CAST(len(list_filter(t, x -> list_contains(['le','la','les','et','que'], x))) AS BIGINT) AS hits_fr,
        CAST(len(list_filter(t, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS BIGINT) AS hits_zh
      FROM toks
    )
    SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, hits_zh,
           CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
                WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
                WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
                WHEN hits_fr >= hits_zh THEN 'fr'
                ELSE 'zh' END AS lang_guess
    FROM hits ORDER BY doc_id
    """,
    tags=("B37", "llm"),
    doc="Marker-word language-ID heuristic (argmax, alphabetical tie-break).",
)
def b37_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return X.lang_id(docs, "doc_id", "text").orderBy("doc_id")


@query(
    "b37_fingerprint",
    oracle=r"""
    SELECT doc_id,
           sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
           substr(sha256(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 8) AS fp_prefix
    FROM documents ORDER BY doc_id
    """,
    tags=("B37", "llm"),
    doc="Normalization fingerprint: sha256 of lowercased, space-collapsed text.",
)
def b37_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return X.fingerprint(docs, "doc_id", "text").orderBy("doc_id")


@query(
    "b37_tfidf_top",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf * ln(CAST(n AS DOUBLE) / df) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id AS doc, term, round(tfidf, 6) AS tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 1 ORDER BY doc
    """,
    tags=("B37", "llm"),
    doc="Exact TF-IDF top term per document (join-based, oracle-checkable).",
)
def b37_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    top = X.tfidf_top_terms(docs, "doc_id", "text", k=1)
    return top.select("doc", "term", dround("tfidf", 6).alias("tfidf"), "rnk").orderBy("doc")


@query(
    "b35_minhash_ml",
    # Spark-ML hash family is engine-internal, but a planted exact duplicate
    # has identical HashingTF features ⇒ identical MinHash bucket in every
    # hash table ⇒ guaranteed candidate with Jaccard distance exactly 0
    oracle=f"""
    SELECT doc_id AS id_a,
           doc_id + 100000 AS id_b,
           CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM documents
    WHERE {_PLANTED_GUARD}
    ORDER BY id_a
    """,
    tags=("B35", "llm", "ml"),
    doc="Spark-ML variant: Tokenizer → HashingTF → MinHashLSH."
    "approxSimilarityJoin (seeded, deterministic) over documents with 10 "
    "planted exact duplicates; the oracle-compared output is the planted "
    "(original, copy) pairs, which share every LSH bucket and score distance "
    "0 ⇒ est_jaccard exactly 1.0 by construction. The custom b35_minhash_lsh "
    "remains the primary scale path; this exercises the ml.feature pipeline.",
)
def b35_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    # approxSimilarityJoin at sim >= 0.3 generates candidates quadratically
    # in the corpus (260 s at sf0.1) and is NOT the scale path — custom
    # banded LSH (b35_minhash_lsh) is.  The ML-interop exercise runs on a
    # deterministic ~20% sample UNION the planted rows (ids < 10 mod the
    # 100000 copy offset), which keeps every oracle pair and bounds the
    # candidate volume at any SF.
    docs = _planted_text_corpus(spark, sf_dir).where(
        (F.col("doc_id") % 100000 < 10)
        | (F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0)
    )
    tok = Tokenizer(inputCol="text", outputCol="words")
    words = tok.transform(docs)
    tf = HashingTF(inputCol="words", outputCol="features", numFeatures=1 << 16, binary=True)
    feats = tf.transform(words)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.7, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            dround(1 - F.col("jaccard_dist"), 4).alias("est_jaccard"),
        )
        .where(F.col("id_b") - F.col("id_a") == 100000)
        .orderBy("id_a", "id_b")
    )


# Planted corpus for b37_tfidf_ml: a fixed 12-doc corpus over a 24-token
# vocabulary VERIFIED collision-free under HashingTF(numFeatures=2^16)
# (murmur3 buckets checked distinct; see tests/test_llm_golden.py).  With no
# bucket collisions the ML pipeline's TF-IDF weights equal the textbook
# formula tf * ln((m+1)/(df+1)), which DuckDB computes from the same
# hardcoded texts — turning the formerly engine-internal HashingTF norm into
# a value-level oracle.  English stopwords are planted into every doc so
# StopWordsRemover is load-bearing: the oracle must exclude them to match.
_TFIDF_VOCAB = (
    "zorple", "quandrix", "flumet", "braskin", "drovex", "miquel", "tarvish",
    "oblint", "crennuf", "suvark", "pleniza", "gorvath", "yintrel", "huskaph",
    "vexomir", "dantrip", "koblenz", "ruvexia", "stampok", "whirvel",
    "axelmor", "prindle", "ovestka", "lumbrix",
)
_TFIDF_STOPWORDS = ("the", "and", "of")


def _tfidf_corpus() -> list[tuple[int, str]]:
    docs = []
    for i in range(12):
        toks = []
        for j in range(8):
            toks.extend([_TFIDF_VOCAB[(i * 5 + j * 2) % 24]] * (1 + (i + j) % 4))
            toks.append(_TFIDF_STOPWORDS[(i + j) % 3])
        docs.append((i, " ".join(toks)))
    return docs


def _tfidf_oracle() -> str:
    values = ", ".join(f"({i}, '{t}')" for i, t in _tfidf_corpus())
    stop = ", ".join(f"'{s}'" for s in _TFIDF_STOPWORDS)
    return f"""
    WITH corpus(doc_id, text) AS (VALUES {values}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM corpus
    ),
    kept AS (SELECT doc_id, term FROM toks WHERE term NOT IN ({stop})),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM kept GROUP BY 1, 2),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM kept GROUP BY 1),
    m AS (SELECT count(*) AS m FROM corpus),
    w AS (SELECT doc_id, tf * ln((m + 1.0) / (df + 1.0)) AS w
          FROM tf JOIN dfq USING (term) CROSS JOIN m)
    SELECT doc_id, round(sqrt(sum(w * w)), 4) AS tfidf_norm
    FROM w GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "b37_tfidf_ml",
    oracle=_tfidf_oracle(),
    tags=("B37", "llm", "ml"),
    doc="Spark-ML text pipeline: Tokenizer → StopWordsRemover → HashingTF → "
    "IDF over a planted fixed corpus whose 24-token vocabulary is verified "
    "collision-free under HashingTF(2^16), making the feature norms equal "
    "the textbook TF-IDF formula the DuckDB oracle computes from the same "
    "texts (converted from rows-only in round 5; planted-oracle pattern). "
    "Planted stopwords make StopWordsRemover load-bearing. The join-based "
    "b37_tfidf_top covers the real documents table.",
)
def b37_tfidf_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import IDF, HashingTF, StopWordsRemover, Tokenizer

    docs = spark.createDataFrame(_tfidf_corpus(), ["doc_id", "text"])
    words = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    clean = StopWordsRemover(inputCol="words", outputCol="clean").transform(words)
    tf = HashingTF(inputCol="clean", outputCol="tf", numFeatures=1 << 16).transform(clean)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)

    # JVM-side norm: vector_to_array + aggregate(x*x) + sqrt — no
    # BatchEvalPython in the plan (asserted in tests/test_plans.py)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("tfidf"))
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x))
    return out.select("doc_id", dround(norm, 4).alias("tfidf_norm")).orderBy("doc_id")


@query(
    "b35_dedup_clusters",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    near AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near
      UNION SELECT id_b, id_a FROM near
    ),
    reach AS (
      -- transitive closure by recursion: every (node, reachable-label) pair
      WITH RECURSIVE walk(node, label) AS (
        SELECT doc_id, doc_id FROM sh
        UNION
        SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
      )
      SELECT node, min(label) AS cluster FROM walk GROUP BY node
    )
    SELECT node AS doc, CAST(cluster AS BIGINT) AS cluster FROM reach
    ORDER BY doc
    """,
    tags=("B35", "llm"),
    doc="Dedup clustering: connected components over Jaccard≥0.3 near-dup "
    "pairs via iterative min-label propagation (the classic Spark iterative "
    "pattern); oracle is a recursive-CTE transitive closure in DuckDB.",
)
def b35_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    nodes = docs.select(F.col("doc_id").alias("doc"))
    labels = D.connected_components(pairs, nodes)
    return labels.select("doc", F.col("cluster").cast("bigint").alias("cluster")).orderBy(
        "doc"
    )


@query(
    "b36_ivf_topk",
    oracle=_ANN_ORACLE,
    tags=("B36", "llm"),
    doc="ANN top-3 via an IVF index: deterministic k-means coarse quantizer "
    "(2 Lloyd rounds, numpy partial-sum reduce), exact cosine within nprobe=2 "
    "cells, over embeddings with 3 planted scalar-scaled copies per query. "
    "A scaled copy normalizes to the query vector itself, so it is assigned "
    "to the query's own (first-probed) cell — recall 1 by construction and "
    "the result equals the brute-force top-3 oracle. General recall vs brute "
    "force asserted in tests/test_llm_ops.py.",
)
def b36_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _planted_scalar_corpus(spark, sf_dir)
    topk = S.ivf_topk(corpus, "vec_id", "embedding", query_ids=list(range(10)), k=3)
    return topk.select("query_id", "cand_id", dround("cos", 6).alias("cos")).orderBy(
        "query_id", "cand_id"
    )


@query(
    "b41_doc_chunking",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
    ),
    meta AS (
      SELECT doc_id, t, len(t) AS n,
             1 + CAST(ceil(greatest(len(t) - 50, 0) / 40.0) AS INT) AS n_chunks
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(t[i*40+1 : least(i*40+50, n)], ' ') AS chunk_text
      FROM meta, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) s
    )
    SELECT doc_id AS doc,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(string_split_regex(chunk_text, '\s+')) AS BIGINT) AS chunk_tokens,
           sha256(chunk_text) AS chunk_sha
    FROM chunks ORDER BY doc, chunk_idx
    """,
    tags=("B41", "llm"),
    doc="Training-data chunking: overlapping 50-token windows, stride 40, "
    "tail always covered; chunk content verified by sha256.",
)
def b41_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return X.chunk_documents(docs, "doc_id", "text", window=50, stride=40).orderBy(
        "doc", "chunk_idx"
    )


@query(
    "b42_llm_pipeline",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE lang IN ('en', 'de', 'fr')
    ),
    quality AS (
      SELECT doc_id, text, t FROM toks
      WHERE len(t) >= 20
        AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.2
    ),
    exact_kept AS (  -- exact dedup: keep the smallest doc_id per content hash
      SELECT doc_id, text, t FROM (
        SELECT doc_id, text, t,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM quality)
      WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM exact_kept
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    near_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    near_dups AS (  -- drop any doc near-dup (j>=0.5) of a smaller-id doc
      SELECT DISTINCT id_b AS doc_id FROM near_pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
    ),
    survivors AS (
      SELECT doc_id, text FROM exact_kept
      WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
    ),
    meta AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM survivors
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx
      FROM (SELECT doc_id, t, len(t) AS n,
                   1 + CAST(ceil(greatest(len(t) - 50, 0) / 40.0) AS INT) AS n_chunks
            FROM meta) m,
           LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) s
    )
    SELECT (SELECT count(*) FROM survivors) AS n_docs,
           (SELECT count(*) FROM chunks) AS n_chunks,
           (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM survivors) AS id_checksum
    """,
    tags=("B42", "llm", "flagship"),
    doc="End-to-end training-data prep: language filter → quality filter "
    "(length + lexical diversity) → exact dedup (min-id keeper) → near-dup "
    "removal (Jaccard ≥ 0.5 vs any smaller-id doc) → overlapping chunking. "
    "One composed DataFrame pipeline, fully oracle-checked.",
)
def b42_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = T(spark, sf_dir, "documents").where(F.col("lang").isin("en", "de", "fr"))
    toks = D.tokenize(F.col("text"))
    quality = docs.where(
        (F.size(toks) >= 20)
        & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.2)
    )
    w = Window.partitionBy(F.sha2(F.col("text").cast("binary"), 256)).orderBy("doc_id")
    # persist: exact_kept feeds BOTH the jaccard candidate pass (materialized
    # eagerly inside jaccard_pairs) and the survivors anti-join — without the
    # cache the scan→quality→dedup-window prefix runs once per consumer
    # (measured 0.3 s at sf0.1, ~2x the documents scan at the 10x probe).
    # Project to (doc_id, text) BEFORE the dedup window: nothing downstream
    # reads lang/source/n_chars, and the window's sha-keyed exchange should
    # not ship them (measured 0.40 s → 0.31 s at sf0.1).
    exact_kept = (
        quality.select("doc_id", "text")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .persist()
    )
    # spread=False: exact_kept is post-shuffle (dedup window) — already as
    # wide as AQE wants; the auto-widening exchange would only add a stage.
    # LAZY variant (r13, guide §5): the pairs stay unmaterialized so the
    # jaccard barrier FUSES into the final aggregate's checkpoint — one
    # eager action instead of two serial ones (A/B: 12.32 -> 11.72 s at
    # 10x, 1.40 -> 1.35 s at sf0.1, fused won every settled round); the
    # shingle persist is released after that single materialization.
    near, _sh = D.jaccard_pairs_lazy(
        exact_kept, "doc_id", "text", n=3, threshold=0.5, spread=False
    )
    drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = exact_kept.join(drop, "doc_id", "left_anti").select("doc_id", "text")
    survivors = survivors.persist()
    # Chunk-index rows mirror the oracle's chunks CTE exactly (unnest of
    # generate_series(0, n_chunks-1)): the pipeline's final statistic needs
    # chunk CARDINALITY, so materializing chunk TEXT here (interpreted
    # transform+concat_ws+sha2 per window — measured 0.47 s of the 1.5 s
    # builder at sf0.1) would be work the oracle side doesn't do.  Full text
    # chunking incl. shas stays covered by b41_doc_chunking.
    toks = D.tokenize(F.col("text"))
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(F.size(toks) - 50, F.lit(0)) / F.lit(40)
    ).cast("int")
    chunk_rows = survivors.select(
        "doc_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    )
    out = (
        survivors.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("id_checksum"),
        )
        .crossJoin(chunk_rows.agg(F.count("*").alias("n_chunks")))
        .select("n_docs", "n_chunks", "id_checksum")
    )
    from ._util import dump_plan

    try:
        dump_plan(out, "b42_llm_pipeline_final")  # pre-checkpoint builder job
        return out.localCheckpoint(eager=True)  # the pipeline's ONLY barrier
    finally:
        _sh.unpersist()
        survivors.unpersist()
        exact_kept.unpersist()


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "b39_multimodal_decode",
    oracle="""
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
           CAST(CAST('0x' || substr(sha256(text), 1, 2) AS INTEGER) + 1 AS BIGINT) AS width,
           CAST(CAST('0x' || substr(sha256(text), 3, 2) AS INTEGER) + 1 AS BIGINT) AS height,
           CAST((CAST('0x' || substr(sha256(text), 1, 2) AS INTEGER) + 1)
                * (CAST('0x' || substr(sha256(text), 3, 2) AS INTEGER) + 1) AS BIGINT) AS n_pixels,
           sha256(text) AS content_sha
    FROM documents ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="Multimodal pipeline: text→binary blob→mapInPandas decode (stubbed "
    "deterministic codec). Schema/batching/partition plumbing is real; the "
    "codec byte-level work is content-hash-derived so the oracle can check it.",
)
def b39_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    blobs = M.to_blob(docs, "doc_id", "text", media_type="text/plain")
    decoded = M.decode_stub(blobs)
    return decoded.select(
        "id", "byte_size", "width", "height", "n_pixels", "content_sha"
    ).orderBy("id")


@query(
    "b39_feature_pipeline",
    oracle="""
    WITH dims AS (
      SELECT doc_id AS id,
             CAST(CAST('0x' || substr(sha256(text), 1, 2) AS INTEGER) + 1 AS BIGINT) AS w,
             CAST(CAST('0x' || substr(sha256(text), 3, 2) AS INTEGER) + 1 AS BIGINT) AS h,
             CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) AS f0_raw
      FROM documents
    )
    SELECT id,
           CAST(greatest(floor(w * (64.0 / greatest(w, h)) + 0.5), 1) AS BIGINT) AS width,
           CAST(greatest(floor(h * (64.0 / greatest(w, h)) + 0.5), 1) AS BIGINT) AS height,
           round(CAST(f0_raw AS DOUBLE) / 4294967296.0, 6) AS f0
    FROM dims ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="Multimodal feature pipeline: blob → decode(stub) → resize(stub, "
    "target 64) → feature-extract(stub, first component) — the full "
    "mapInPandas chain with the content-hash arithmetic verified by the "
    "oracle end-to-end.",
)
def b39_feature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    blobs = M.to_blob(docs, "doc_id", "text")
    decoded = M.decode_stub(blobs)
    resized = M.resize_stub(decoded, target=64)
    feats = M.feature_extract_stub(blobs, dim=8)
    return (
        resized.select("id", "width", "height")
        .join(feats.select("id", F.element_at("features", 1).alias("f0_raw")), "id")
        .select("id", "width", "height", dround("f0_raw", 6).alias("f0"))
        .orderBy("id")
    )


@query(
    "b39_resize_edges",
    oracle="""
    WITH src AS (
      SELECT i AS id, 2*i - 1 AS w, 128 AS h FROM generate_series(1, 64) t(i)
      UNION ALL
      SELECT 100 + i, 256, 2*i - 1 FROM generate_series(1, 64) t(i)
    )
    SELECT id,
           greatest(1, CAST(floor(w * (64.0 / greatest(w, h)) + 0.5) AS BIGINT)) AS width,
           greatest(1, CAST(floor(h * (64.0 / greatest(w, h)) + 0.5) AS BIGINT)) AS height,
           round(64.0 / greatest(w, h), 6) AS scale
    FROM src ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="resize_stub rounding-edge oracle: odd dimensions under binary-exact "
    "scales 0.5 and 0.25 make every product land exactly on a .5/.25 "
    "boundary, pinning floor(x+0.5) half-up semantics (banker's rounding "
    "would diverge on 2.5 -> 2) and the >=1 clip on sub-pixel results.",
)
def b39_resize_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = spark.range(1, 65)
    wide = r.select(
        F.col("id"), (F.col("id") * 2 - 1).alias("width"), F.lit(128).cast("long").alias("height")
    )
    tall = r.select(
        (F.col("id") + 100).alias("id"),
        F.lit(256).cast("long").alias("width"),
        (F.col("id") * 2 - 1).alias("height"),
    )
    decoded = wide.unionByName(tall).withColumn("content_sha", F.col("id").cast("string"))
    resized = M.resize_stub(decoded, target=64)
    return resized.select(
        "id", "width", "height", dround("scale", 6).alias("scale")
    ).orderBy("id")


# xxhash64 is not available in DuckDB SQL, but it IS a published algorithm:
# predict the sampled id set with the pure-Python replica (equality with the
# JVM implementation asserted in tests/test_llm_ops.py) and embed it in the
# oracle as a literal IN list. Domain capped at 5000 = max doc_id + 1 across
# the driven SFs (both sides apply the identical cap, so every SF agrees).
_FRAME_SAMPLE_DOMAIN = 5000
_FRAME_SAMPLE_IDS = ",".join(
    str(i) for i in range(_FRAME_SAMPLE_DOMAIN) if M.xxhash64_long(i) % 10 == 0
)


@query(
    "b39_frame_sample",
    oracle=f"""
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
           sha256(text) AS content_sha
    FROM documents
    WHERE doc_id < {_FRAME_SAMPLE_DOMAIN} AND doc_id IN ({_FRAME_SAMPLE_IDS})
    ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="Deterministic 1-in-10 frame/blob sampling via xxhash64(id) — "
    "partition-preserving sampling shape used by video frame extraction. The "
    "oracle predicts the surviving id set with a pure-Python XXH64 replica "
    "(verified against the JVM in tests/test_llm_ops.py) embedded as a "
    "literal id list, and checks payload size + sha256 per surviving blob.",
)
def b39_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").where(F.col("doc_id") < _FRAME_SAMPLE_DOMAIN)
    blobs = M.to_blob(docs, "doc_id", "text")
    sampled = M.frame_sample(blobs, every_nth=10)
    return sampled.select(
        "id", "byte_size", F.sha2(F.col("data"), 256).alias("content_sha")
    ).orderBy("id")


@query(
    "b39_audio_features",
    oracle="""
    WITH par AS (
      SELECT vec_id AS id,
             800 + (vec_id % 5) * 80 AS n,
             3 + vec_id % 7 AS f
      FROM embeddings WHERE vec_id < 100
    ),
    sam AS (SELECT id, n, f, unnest(range(0, n)) AS i FROM par),
    s AS (
      SELECT id, n, ((i * f) % 2000) - 1000 AS v,
             lead(((i * f) % 2000) - 1000)
               OVER (PARTITION BY id ORDER BY i) AS nxt
      FROM sam
    )
    SELECT id,
           CAST(2 * max(n) AS BIGINT) AS n_bytes,
           CAST(max(n) AS BIGINT) AS n_samples,
           sqrt(CAST(sum(v * v) AS DOUBLE) / max(n)) AS rms,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           CAST(sum(CASE WHEN v * nxt < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           CAST(sum(v) AS BIGINT) AS sample_sum
    FROM s GROUP BY id ORDER BY id
    """,
    tags=("B39", "llm", "multimodal", "audio"),
    doc="Audio-modality plumbing: deterministic int16-LE PCM sawtooths "
    "(integer closed form — no codec, no libm in the signal) are PACKED "
    "into real binary columns by one Arrow-batched mapInPandas and "
    "DECODED by a second (np.frombuffer), which extracts RMS / peak / "
    "strict zero-crossings / sample-sum checksum. The oracle reproduces "
    "every feature analytically from the closed form — int64 sums are "
    "exact in float64 and IEEE sqrt is correctly rounded, so even the "
    "double RMS matches bit-for-bit. n_bytes proves the pack/unpack "
    "round-trip (operators/multimodal.py synth_pcm/audio_features).",
)
def b39_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = T(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    pcm = M.synth_pcm(ids, "vec_id")
    feats = M.audio_features(pcm)
    return tiny_sort(feats, "id")


@query(
    "b39_decode_png",
    oracle="""
    WITH m AS (
      SELECT doc_id AS id,
             (n_chars % 13) + 4 AS w,
             ((doc_id * 7) % 11) + 4 AS h,
             doc_id % 256 AS tr,
             (doc_id + 91) % 256 AS br, (doc_id * 3 + 17) % 256 AS bg,
             (doc_id * 3) % 256 AS tg, (doc_id * 7) % 256 AS tb,
             (doc_id * 7 + 29) % 256 AS bb
      FROM documents
    ),
    dims AS (SELECT *, h // 2 AS ht, h - h // 2 AS hb FROM m)
    SELECT id,
           'png' AS fmt,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(id % 5 AS BIGINT) AS filter_type,
           round(CAST(w * ht * tr + w * hb * br AS DOUBLE) / (w * h), 6) AS mean_r,
           round(CAST(w * ht * tg + w * hb * bg AS DOUBLE) / (w * h), 6) AS mean_g,
           round(CAST(w * ht * tb + w * hb * bb AS DOUBLE) / (w * h), 6) AS mean_b,
           round(CAST(tr AS DOUBLE), 6) AS top_r
    FROM dims ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="REAL compressed-image codec round-trip: synthesize a two-band "
    "non-interlaced 8-bit RGB PNG per document (stdlib zlib deflate) with "
    "SQL-predictable dimensions and band colors, scanline-filtered with "
    "filter type id %% 5 — so all five PNG filters (None/Sub/Up/Average/"
    "Paeth) are exercised and decode_real must inflate + unfilter correctly "
    "to reproduce the band statistics. The reconstructed pixels are "
    "filter-independent, which is what makes the oracle deterministic; "
    "byte_size is deliberately absent (zlib output length is not "
    "SQL-expressible). top_r catches a row-order bug, mean_* catch any "
    "unfilter bug.",
)
def b39_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                d, nc = int(d), int(nc)
                w, h = nc % 13 + 4, (d * 7) % 11 + 4
                top = (d % 256, (d * 3) % 256, (d * 7) % 256)
                bot = ((d + 91) % 256, (d * 3 + 17) % 256, (d * 7 + 29) % 256)
                ids.append(d)
                blobs.append(M.encode_png(w, h, top, bot, filter_type=d % 5))
            yield pd.DataFrame({"id": ids, "data": blobs})

    blobs = docs.mapInPandas(_encode, "id bigint, data binary")
    decoded = M.decode_real(blobs)
    return decoded.select(
        "id",
        "fmt",
        "width",
        "height",
        "n_pixels",
        (F.col("id") % 5).cast("bigint").alias("filter_type"),
        dround("mean_r", 6).alias("mean_r"),
        dround("mean_g", 6).alias("mean_g"),
        dround("mean_b", 6).alias("mean_b"),
        dround("top_r", 6).alias("top_r"),
    ).orderBy("id")


@query(
    "b39_decode_real",
    oracle="""
    WITH m AS (
      SELECT doc_id AS id,
             (n_chars % 13) + 4 AS w,
             ((doc_id * 7) % 11) + 4 AS h,
             doc_id % 256 AS tr,
             (doc_id + 91) % 256 AS br, (doc_id * 3 + 17) % 256 AS bg,
             (doc_id * 3) % 256 AS tg, (doc_id * 7) % 256 AS tb,
             (doc_id * 7 + 29) % 256 AS bb,
             doc_id % 2 = 0 AS is_bmp
      FROM documents
    ),
    dims AS (SELECT *, h // 2 AS ht, h - h // 2 AS hb FROM m)
    SELECT id,
           CASE WHEN is_bmp THEN 'bmp' ELSE 'ppm' END AS fmt,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(CASE WHEN is_bmp
                THEN 54 + ((w * 3 + 3) // 4) * 4 * h
                ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
                END AS BIGINT) AS byte_size,
           round(CAST(w * ht * tr + w * hb * br AS DOUBLE) / (w * h), 6) AS mean_r,
           round(CAST(w * ht * tg + w * hb * bg AS DOUBLE) / (w * h), 6) AS mean_g,
           round(CAST(w * ht * tb + w * hb * bb AS DOUBLE) / (w * h), 6) AS mean_b,
           round(CAST(tr AS DOUBLE), 6) AS top_r
    FROM dims ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="REAL (non-stub) image codec round-trip: synthesize a two-band "
    "uncompressed 24-bit BMP (even ids) or binary PPM (odd ids) per document "
    "with SQL-predictable dimensions and band colors, then decode_real parses "
    "the actual bytes — BMP header fields, 4-byte row padding, bottom-up row "
    "order, BGR→RGB; PPM ASCII header — and reports dimensions + channel "
    "means. top_r (mean red of the TOP half) catches a missed row flip; "
    "byte_size catches wrong padding. Means use the identical float "
    "expression on both sides so IEEE division matches exactly.",
)
def b39_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = T(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _encode(batches):
        for pdf in batches:
            ids, blobs = [], []
            for d, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                d, nc = int(d), int(nc)
                w, h = nc % 13 + 4, (d * 7) % 11 + 4
                top = (d % 256, (d * 3) % 256, (d * 7) % 256)
                bot = ((d + 91) % 256, (d * 3 + 17) % 256, (d * 7 + 29) % 256)
                enc = M.encode_bmp if d % 2 == 0 else M.encode_ppm
                ids.append(d)
                blobs.append(enc(w, h, top, bot))
            yield pd.DataFrame({"id": ids, "data": blobs})

    blobs = docs.mapInPandas(_encode, "id bigint, data binary")
    decoded = M.decode_real(blobs)
    return decoded.select(
        "id",
        "fmt",
        "width",
        "height",
        "n_pixels",
        "byte_size",
        dround("mean_r", 6).alias("mean_r"),
        dround("mean_g", 6).alias("mean_g"),
        dround("mean_b", 6).alias("mean_b"),
        dround("top_r", 6).alias("top_r"),
    ).orderBy("id")


# Shared sub-expressions for the b39_decode_jpeg analytic oracle: the module
# rounding convention floor(x + 0.5 + 1e-6) with a 0-255 clamp (operators/
# jpeg.py module docstring), applied at the three lossy stages.
def _jq_clamp(expr: str) -> str:
    return f"least(greatest(floor({expr} + 0.5 + 1e-6), 0), 255)"


def _jq_band_sql(p: str, r: str, g: str, b: str) -> str:
    """YCbCr → DC-quantize round-trip → RGB for one uniform band; emits
    columns {p}r2/{p}g2/{p}b2 given planted color columns r,g,b and quant
    columns qy/qc."""
    y = _jq_clamp(f"0.299*{r} + 0.587*{g} + 0.114*{b}")
    cb = _jq_clamp(f"-0.168736*{r} - 0.331264*{g} + 0.5*{b} + 128")
    cr = _jq_clamp(f"0.5*{r} - 0.418688*{g} - 0.081312*{b} + 128")
    rec = lambda v, q: _jq_clamp(f"floor(8*(({v}) - 128)/{q} + 0.5 + 1e-6) * {q} / 8.0 + 128")  # noqa: E731
    y2, cb2, cr2 = rec(y, "qy"), rec(cb, "qc"), rec(cr, "qc")
    return (
        f"{_jq_clamp(f'({y2}) + 1.402*(({cr2}) - 128)')} AS {p}r2, "
        f"{_jq_clamp(f'({y2}) - 0.344136*(({cb2}) - 128) - 0.714136*(({cr2}) - 128)')} AS {p}g2, "
        f"{_jq_clamp(f'({y2}) + 1.772*(({cb2}) - 128)')} AS {p}b2"
    )


@query(
    "b39_decode_jpeg",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS id,
             (doc_id * 5) % 25 + 8 AS w, 32 AS h,
             doc_id % 256 AS tr, (doc_id * 3) % 256 AS tg, (doc_id * 7) % 256 AS tb,
             (doc_id + 91) % 256 AS br, (doc_id * 3 + 17) % 256 AS bg,
             (doc_id * 7 + 29) % 256 AS bb,
             CASE doc_id % 3 WHEN 0 THEN 50 WHEN 1 THEN 75 ELSE 90 END AS q
      FROM documents WHERE doc_id < 400
    ),
    qv AS (
      SELECT *,
             least(greatest((16 * scale + 50) // 100, 1), 255) AS qy,
             least(greatest((17 * scale + 50) // 100, 1), 255) AS qc
      FROM (SELECT *, CASE WHEN q < 50 THEN 5000 // q ELSE 200 - 2*q END AS scale FROM m)
    ),
    rgb AS (
      SELECT id, w, h,
             {_jq_band_sql("t", "tr", "tg", "tb")},
             {_jq_band_sql("b", "br", "bg", "bb")}
      FROM qv
    )
    SELECT id, 'jpeg' AS fmt,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           round((tr2 + br2) / 2.0, 6) AS mean_r,
           round((tg2 + bg2) / 2.0, 6) AS mean_g,
           round((tb2 + bb2) / 2.0, 6) AS mean_b,
           round(CAST(tr2 AS DOUBLE), 6) AS top_r
    FROM rgb ORDER BY id
    """,
    tags=("B39", "llm", "multimodal"),
    doc="REAL baseline-JPEG codec round-trip (operators/jpeg.py: pure-numpy "
    "FDCT/quantize/Huffman encode, then full entropy decode + IDCT): "
    "synthesize a two-band JPEG per document — quality 50/75/90 by id, "
    "4:4:4 on even ids and 4:2:0 on odd, restart markers every 2 MCUs when "
    "id %% 4 == 0 — and decode with decode_real. Band heights are multiples "
    "of 16, so every MCU is a uniform color and the whole lossy path "
    "collapses to the ANALYTIC DC-only form round(8(v-128)/q)*q/8 + 128 "
    "per channel; the oracle evaluates that closed form plus the JFIF color "
    "transforms in SQL from the planted colors and the IJG quality-scaling "
    "formula — implementation-independent JPEG mathematics, not this "
    "codec's own output.",
)
def b39_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = T(spark, sf_dir, "documents").select("doc_id").where(F.col("doc_id") < 400)

    def _encode(batches):
        import numpy as np

        from ..operators.jpeg import encode_jpeg

        for pdf in batches:
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = (d * 5) % 25 + 8, 32
                img = np.zeros((h, w, 3), dtype=np.uint8)
                img[:16] = (d % 256, (d * 3) % 256, (d * 7) % 256)
                img[16:] = ((d + 91) % 256, (d * 3 + 17) % 256, (d * 7 + 29) % 256)
                blobs.append(
                    encode_jpeg(
                        img,
                        quality=(50, 75, 90)[d % 3],
                        subsampling="444" if d % 2 == 0 else "420",
                        restart_interval=2 if d % 4 == 0 else 0,
                    )
                )
                ids.append(d)
            yield pd.DataFrame({"id": ids, "data": blobs})

    blobs = docs.mapInPandas(_encode, "id bigint, data binary")
    decoded = M.decode_real(blobs)
    return decoded.select(
        "id",
        "fmt",
        "width",
        "height",
        "n_pixels",
        dround("mean_r", 6).alias("mean_r"),
        dround("mean_g", 6).alias("mean_g"),
        dround("mean_b", 6).alias("mean_b"),
        dround("top_r", 6).alias("top_r"),
    ).orderBy("id")


@query(
    "b74_video_frames",
    oracle="""
    WITH par AS (
      SELECT vec_id AS id,
             8 + vec_id % 9 AS w,
             8 + (vec_id * 3) % 9 AS h,
             12 + vec_id % 19 AS n
      FROM embeddings WHERE vec_id < 100
    ),
    fr AS (SELECT id, w, h, n, unnest(range(0, n, 5)) AS t FROM par),
    fs AS (
      SELECT f.id, f.w, f.h, f.n, f.t,
             sum((f.id * 7 + f.t * 13 + xs.x * 5 + ys.y * 3) % 256) AS fsum
      FROM fr f, unnest(range(0, f.w)) AS xs(x), unnest(range(0, f.h)) AS ys(y)
      GROUP BY f.id, f.w, f.h, f.n, f.t
    ),
    st AS (
      SELECT id, w, h, n, t, fsum,
             lead(fsum) OVER (PARTITION BY id ORDER BY t) AS nxt
      FROM fs
    )
    SELECT id,
           CAST(16 + n * w * h AS BIGINT) AS n_bytes,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(n AS BIGINT) AS n_frames,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(fsum) AS BIGINT) AS luma_sum,
           CAST(coalesce(sum(abs(nxt - fsum)), 0) AS BIGINT) AS motion_sum,
           round(CAST(sum(fsum) AS DOUBLE) / (count(*) * w * h), 6) AS mean_luma
    FROM st GROUP BY id, w, h, n
    """,
    tags=("B39", "llm", "multimodal", "video"),
    doc="Video-modality plumbing: a deterministic raw-video container per id "
    "(magic + LE header + n raw 8-bit grayscale frames whose pixels are a "
    "closed-form integer function) is PACKED into a real binary column by "
    "one Arrow-batched mapInPandas and PARSED by a second — header unpack, "
    "np.frombuffer, (n, h, w) reshape, frames[::5] sampling — the decode/"
    "frame-sample stage of a video ingestion pipeline (brief: stub the "
    "codec, keep the schema/partitioning/batch shape real).  Features are "
    "exact integers (sampled-luma sum, inter-sampled-frame motion sum) plus "
    "one double division; n_bytes proves the byte-level round-trip against "
    "the header geometry.  Scales embarrassingly: blobs never shuffle, "
    "features are one narrow map pass.",
)
def b74_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = T(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    video = M.synth_video(ids, "vec_id")
    feats = M.video_features(video, every_nth=5)
    out = feats.select(
        "id",
        "n_bytes",
        "width",
        "height",
        "n_frames",
        "n_sampled",
        "luma_sum",
        "motion_sum",
        dround(
            F.col("luma_sum").cast("double")
            / (F.col("n_sampled") * F.col("width") * F.col("height")),
            6,
        ).alias("mean_luma"),
    )
    return tiny_sort(out, "id")


@query(
    "b81_image_ahash_dedup",
    # planted brightness-shifted duplicates have IDENTICAL aHash by
    # construction (strictly monotone shift, no clipping) — recall 1,
    # hamming exactly 0, SQL-predictable like b35_simhash's planted pairs
    oracle="""
    SELECT doc_id AS id_a,
           doc_id + 100000 AS id_b,
           CAST(0 AS BIGINT) AS hamming
    FROM documents WHERE doc_id < 10
    ORDER BY id_a
    """,
    tags=("B35", "B39", "llm", "multimodal"),
    doc="Perceptual image dedup over REAL decoded pixels: deterministic "
    "16x16 PPM pattern per doc_id (modular wrap — distinct ids give "
    "genuinely different images), 10 planted brightness-shifted (+50, no "
    "clipping) copies, aHash (8x8 block means > global mean, packed "
    "int64) via one Arrow-batched mapInPandas pass, dedup as a plain "
    "hash-keyed join — never pairwise over images. A monotone brightness "
    "map preserves every comparison bit, so planted recall is 1 by "
    "construction; the scored hamming is exactly 0.",
)
def b81_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    ids = T(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    # Loud fixture-growth guard (1-row scalar, column-pruned agg): the
    # planted ids live at base_id + 100000 and the pattern is id % 100000,
    # so a WITHIN-COPY doc_id >= 100000 would alias the planted range and
    # corrupt the planted-pair oracle SILENTLY (spurious hash-equal pairs).
    # Scaled corpora add copy offsets in multiples of 10M — congruent to 0
    # mod 100000, hence alias-free — so the guard checks the id modulo the
    # copy stride, not the raw maximum (advisor r7; the raw-max version
    # falsely tripped on the 10x sweep corpus).  Fail loudly; the oracle
    # hardcodes the +100000 offset, so it cannot be derived dynamically.
    max_mod = ids.agg(F.max(F.col("id") % 10_000_000).alias("m")).collect()[0]["m"]
    if max_mod is not None and max_mod >= 100000:
        raise ValueError(
            f"b81 planted-id offset 100000 aliased: max within-copy doc_id {max_mod}"
        )
    planted = ids.where(F.col("id") < 10).select(
        (F.col("id") + F.lit(100000)).alias("id")
    )
    all_ids = ids.unionByName(planted)

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            data = [
                MM.encode_ppm_pattern(
                    16, 16, int(i) % 100000, shift=50 if int(i) >= 100000 else 0
                )
                for i in pdf["id"]
            ]
            yield pd.DataFrame({"id": pdf["id"], "data": data})

    blobs = all_ids.mapInPandas(_gen, "id bigint, data binary")
    hashes = MM.image_ahash(blobs, grid=8)
    left = hashes.select(F.col("id").alias("id_a"), F.col("ahash").alias("h_a"))
    right = hashes.where(F.col("id") >= 100000).select(
        F.col("id").alias("id_b"), F.col("ahash").alias("h_b")
    )
    pairs = left.join(right, left.h_a == right.h_b).where(
        F.col("id_b") - F.col("id_a") == 100000
    )
    return pairs.select(
        "id_a", "id_b", F.lit(0).cast("bigint").alias("hamming")
    ).orderBy("id_a")


# ---------------------------------------------------------------------------
# B35/B33 — incremental near-dup maintenance (r11 verdict stretch item)
# ---------------------------------------------------------------------------

# b92 introspection for tests, same contract as sketch_pack._B89_LAST.
_B92_LAST: dict = {}

_INCR_K = 64        # MinHash signature length (b35's)
_INCR_BANDS = 16    # LSH bands (b35's)
_INCR_THRESH = 0.3  # est-Jaccard acceptance threshold (b35's)
# Planted-copy id offset.  100001 % 4 == 1, so under the pmod-4 batch
# staging a copy ALWAYS lands in a different micro-batch than its original —
# every planted pair must be detected across batches via the index, and a
# dense natural corpus (doc_id < ~10000 at the driven SFs) cannot produce
# the gap accidentally.
_INCR_OFFSET = 100001
_INCR_B = 4         # staged micro-batches


def _incr_plant(docs: DataFrame) -> DataFrame:
    """documents ∪ 10 planted EXACT duplicates at +_INCR_OFFSET — the
    _planted_text_corpus construction (same guard) with a cross-batch
    offset; identical text ⇒ identical signature ⇒ candidate recall 1 and
    est_jaccard exactly 1.0 by construction."""
    docs = docs.select("doc_id", "text")
    planted = docs.where(
        (F.col("doc_id") < 10)
        & F.col("text").isNotNull()
        & (F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")) >= 3)
    ).select((F.col("doc_id") + F.lit(_INCR_OFFSET)).alias("doc_id"), "text")
    return docs.unionByName(planted)


def _incr_batch_pairs(sigs_b: DataFrame, idx: DataFrame) -> tuple[DataFrame, DataFrame]:
    """b92's per-batch emission, the plan that runs once per arriving shard
    at 100 TB (plan-pinned in tests/test_plans.py): the arriving batch's
    banded signatures equi-join the persisted index on (band_idx,
    band_hash) — cross pairs against EARLIER-batch docs, via_index=1 — and
    themselves (within-batch pairs, via_index=0).  Prior shards' TEXT is
    never touched: per-batch work is the batch's own signature pass plus a
    join against the 16-bigint-rows-per-doc index relation.

    Returns (banded_b, pairs) — banded_b is what the batch appends to the
    index."""
    banded_b = D.banded_signatures(sigs_b, bands=_INCR_BANDS, sig_len=_INCR_K)
    cross = (
        banded_b.alias("n")
        .join(
            idx.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_hash") == F.col("o.band_hash"))
            & (F.col("n.doc") != F.col("o.doc")),
        )
        .select(
            F.least("n.doc", "o.doc").alias("id_a"),
            F.greatest("n.doc", "o.doc").alias("id_b"),
        )
        .distinct()
        .select("id_a", "id_b", F.lit(1).cast("bigint").alias("via_index"))
    )
    within = D.lsh_candidate_pairs(
        sigs_b, bands=_INCR_BANDS, sig_len=_INCR_K
    ).select("id_a", "id_b", F.lit(0).cast("bigint").alias("via_index"))
    return banded_b, cross.unionByName(within)


@query(
    "b92_incremental_neardup",
    # Signatures are Spark-internal, but the planted cross-batch exact
    # duplicates have deterministic recall 1, est_jaccard exactly 1.0, and
    # MUST be found via the index (via_index=1) — the copy always arrives in
    # a different batch than its original.  incremental_matches_recompute
    # and multi_batch are runtime witnesses with their REQUIRED values
    # pinned (b89's discipline): the incremental pair set is a
    # deterministic function of the corpus, so a Spark-side 0 is a defect
    # and hash-mismatches.
    oracle=f"""
    SELECT doc_id AS id_a,
           doc_id + {_INCR_OFFSET} AS id_b,
           CAST(1.0 AS DOUBLE) AS est_jaccard,
           CAST(1 AS BIGINT) AS via_index,
           CAST(1 AS BIGINT) AS incremental_matches_recompute,
           CAST(1 AS BIGINT) AS multi_batch
    FROM documents
    WHERE {_PLANTED_GUARD}
    ORDER BY id_a
    """,
    tags=("B33", "B35", "llm", "streaming"),
    doc="INCREMENTAL near-dup maintenance (r11 verdict stretch): dedup "
    "arriving shards against the accumulated corpus WITHOUT re-scanning it "
    "— the op every real training-data pipeline runs, where today's b35 "
    "rows recompute from scratch.  The corpus's dedup index is the "
    "persisted banded MinHash signature relation (doc, band_idx, "
    "band_hash — 16 bigint rows per document, proportional to document "
    "count, never text size).  A readStream over the planted corpus staged "
    "as four files (maxFilesPerTrigger=1, availableNow) runs foreachBatch; "
    "each micro-batch computes signatures for ITS OWN documents only, "
    "equi-joins its banded signatures against the index to emit "
    "(earlier-doc, new-doc) cross near-dup candidates and against itself "
    "for within-batch pairs, then appends its bands to the index and its "
    "signatures to the score store.  Witnessed end-to-end: every planted "
    "duplicate arrives in a LATER batch than its original (offset pmod "
    "construction) and is detected via the index (via_index=1 per output "
    "row); incremental_matches_recompute pins that the union of per-batch "
    "emissions equals the from-scratch banded-LSH recompute on the full "
    "corpus EXACTLY (symmetric difference empty, est-Jaccard scores "
    "included) — a pair is emitted exactly once, in the batch where its "
    "later doc arrives, because the earlier doc's bands are already in the "
    "index; multi_batch witnesses >= 2 real micro-batches (4 run).  Scale "
    "shape (100 TB): per-arrival work = one Arrow-batched signature pass "
    "over the arriving shard + one equi-join against the index (bucketed "
    "by band hash, Σdf² per bucket, never n²); index growth is 16 rows "
    "per document (bounded-growth test); prior shards' text is never "
    "re-read (plan-pinned).",
)
def b92_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import uuid

    from ._util import scratch_dir, stage_stream_files

    stage = stage_stream_files(
        spark, sf_dir, "documents", ("doc_id", "text"),
        "doc_id", "incr_nd_src", n_groups=_INCR_B, transform=_incr_plant,
    )
    run = uuid.uuid4().hex[:12]
    dirs = {
        "idx": scratch_dir(f"incr_nd_idx_{run}"),
        "sig": scratch_dir(f"incr_nd_sig_{run}"),
        "pairs": scratch_dir(f"incr_nd_pairs_{run}"),
        "ckpt": scratch_dir(f"incr_nd_ckpt_{run}"),
    }
    # try/finally: per-run dirs must not leak on any exit path
    try:
        return _b92_run(spark, sf_dir, stage, dirs)
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)


def _b92_run(spark: SparkSession, sf_dir: str, stage: str, dirs: dict) -> DataFrame:
    import os

    idx_dir, sig_dir, pairs_dir, ckpt = (
        dirs["idx"], dirs["sig"], dirs["pairs"], dirs["ckpt"]
    )
    # seed the stores with empty relations so batch 0 reads a valid (empty)
    # index and an all-light run still leaves readable parquet
    spark.createDataFrame(
        [], "doc long, band_idx int, band_hash long, batch_id long"
    ).write.mode("overwrite").parquet(idx_dir)
    spark.createDataFrame(
        [], "id_a long, id_b long, via_index long, batch_id long"
    ).write.mode("overwrite").parquet(pairs_dir)
    spark.createDataFrame(
        [], "doc long, sig array<long>"
    ).write.mode("overwrite").parquet(sig_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        # signatures for THIS BATCH's docs only (Arrow-batched MinHash)
        sigs_b = D.minhash_signatures(
            batch_df, "doc_id", "text", k=_INCR_K
        ).localCheckpoint(eager=True)
        idx = spark.read.parquet(idx_dir).drop("batch_id")
        banded_b, pairs = _incr_batch_pairs(sigs_b, idx)
        (
            pairs.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .coalesce(1).write.mode("append").parquet(pairs_dir)
        )
        (
            banded_b.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .coalesce(1).write.mode("append").parquet(idx_dir)
        )
        sigs_b.coalesce(1).write.mode("append").parquet(sig_dir)

    schema = spark.read.parquet(os.path.join(stage, "g0.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = (
        src.writeStream.foreachBatch(update)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # ---- score the maintained pair set from the signature store -----------
    sigs = spark.read.parquet(sig_dir)
    pairs = spark.read.parquet(pairs_dir)
    sa = sigs.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    )
    incr = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "via_index",
            (agree / F.lit(_INCR_K)).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= _INCR_THRESH)
        .localCheckpoint(eager=True)
    )

    # ---- witness: the from-scratch recompute on the full corpus -----------
    full = D.minhash_neardup_pairs(
        _incr_plant(T(spark, sf_dir, "documents")),
        "doc_id", "text",
        k=_INCR_K, bands=_INCR_BANDS, threshold=_INCR_THRESH,
    ).select("id_a", "id_b", F.col("est_jaccard").alias("est_full"))
    mism = (
        incr.join(full, ["id_a", "id_b"], "full")
        .where(
            F.col("est_jaccard").isNull()
            | F.col("est_full").isNull()
            | (F.col("est_jaccard") != F.col("est_full"))
        )
        .agg(F.count("*").cast("bigint").alias("n_mismatch"))
    )
    nb = spark.read.parquet(idx_dir).agg(
        F.countDistinct("batch_id").cast("bigint").alias("n_batches"),
        F.count("*").cast("bigint").alias("index_rows"),
    )

    result = (
        incr.where(F.col("id_b") - F.col("id_a") == _INCR_OFFSET)
        .crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(nb))
        .select(
            "id_a",
            "id_b",
            dround("est_jaccard", 4).alias("est_jaccard"),
            F.col("via_index").cast("bigint").alias("via_index"),
            F.when(F.col("n_mismatch") == 0, 1).otherwise(0)
            .cast("bigint").alias("incremental_matches_recompute"),
            F.when(F.col("n_batches") >= 2, 1).otherwise(0)
            .cast("bigint").alias("multi_batch"),
            F.col("index_rows").alias("_idx_rows"),
            F.col("n_batches").alias("_nb"),
        )
        .orderBy("id_a")
    )
    out = result.localCheckpoint(eager=True)
    row = out.first()
    _B92_LAST.clear()
    _B92_LAST.update(
        {
            "index_rows": row["_idx_rows"] if row else 0,
            "n_batches": row["_nb"] if row else 0,
            "pairs_emitted": pairs.count(),
        }
    )
    return out.drop("_idx_rows", "_nb")
