"""Retrieval, statistical-LM, and corpus-statistics queries.

The reference (data_ingestion.py:229-252) stops at "store snippets so a
retriever can search them"; this module supplies the retrieval and
corpus-statistics side a training-data pipeline actually runs at scale:

- BM25 ranked search (Robertson/Sparck-Jones; the Lucene idf form) —
  the lexical-retrieval baseline next to the vector stack in
  operators/similarity.py.
- Bigram language-model surprisal scoring (add-one smoothing) — the
  classic "perplexity filter" for corpus quality (high-surprisal docs
  are boilerplate/garbage candidates).
- DSIR-style importance weights (hashed-unigram log-likelihood ratio
  between a target subset and the raw corpus; Xie et al. 2023,
  "Data Selection for Language Models via Importance Resampling") —
  selects raw docs that look like the target distribution.
- BPE merge learning + application (Sennrich et al. 2016) — tokenizer
  induction and the per-language subword token budget.
- MMR diversified top-k / JL random projection + projected ANN — the
  diversity- and dimensionality-reduction sides of the vector stack.
- PMI co-occurrence pairs, char-entropy quality gate, unigram-KL
  corpus drift monitoring.
- Temperature mixture quotas (UniMax-style), deterministic negative
  sampling, Efraimidis-Spirakis weighted sampling, incremental rollup
  maintenance.

Determinism contract (same as operators/kmeans.py): every per-item
float score is quantized to integer micro-units (round(x*1e6) as
BIGINT) BEFORE any multi-row sum, so aggregation order can never flip
the driver's value hash; ln/÷ appear only in single-expression forms
that Spark and DuckDB evaluate bit-identically (precedent:
text_tfidf_top_terms).

Scale notes are per-query; the common shape is: narrow per-doc token
algebra (codegen, no shuffle) → small keyed aggs over terms → keyed
instance join → per-doc agg. Corpus-sized tables always shuffle on the
term key and are never broadcast; vocabulary-sized side tables are the
broadcast candidates at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_py_spark.functions.text import tokens
from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.queries import register

_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

# ---------------------------------------------------------------------------
# BM25 ranked search
# ---------------------------------------------------------------------------

#: Fixed query for the registry entry (mid-frequency corpus terms, so
#: df is neither 0 nor N and the idf term does real work).
BM25_QUERY_TERMS = ("merge", "window", "shuffle")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k documents for a bag-of-terms query.

    idf  = ln(1 + (N - df + 0.5)/(df + 0.5))          (Lucene form)
    s(d) = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Shape at scale: token filtering to the query terms happens in the
    narrow map BEFORE the explode, so the only corpus-proportional
    shuffled relation is |matching (doc, term) pairs| — a tiny
    fraction of the corpus. Doc length rides along as a functionally-
    dependent groupBy key (no second pass over the text). df (|query|
    rows) and the N/avgdl scalar are broadcasts. The documents scan
    runs 3× (tf / df / corpus-stats paths), each a narrow codegen
    map — at 100 TB the N+avgdl stats would be maintained as corpus
    metadata instead of recomputed per query (see SCALE.md).

    Per-(doc,term) scores are quantized to micro-units before the
    per-doc sum → integer-exact total, reproducible ranking.
    """
    toks = tokens(F.col(text_col))
    qlit = F.array(*[F.lit(t) for t in query_terms])
    per_doc = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(qlit, t)).alias("qtoks"),
    )
    tf = (
        per_doc.where(F.size("qtoks") > 0)
        .select("doc_id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("dl").alias("sum_dl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (
                        (1.0 - b)
                        + b
                        * F.col("dl")
                        / (
                            F.col("sum_dl").cast("double")
                            / F.col("nd")
                        )
                    )
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.round(F.col("s") * 1000000.0).cast("long").alias("s_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("s_micro").alias("score_micro"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(k)
    )


def _bm25_oracle(query_terms: tuple[str, ...], k: int) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH per_doc AS (
    SELECT doc_id, len(toks) AS dl,
           list_filter(toks, t -> list_contains([{terms_sql}], t)) AS qtoks
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), tf AS (
    SELECT doc_id, dl, unnest(qtoks) AS term
    FROM per_doc WHERE len(qtoks) > 0
), tfc AS (
    SELECT doc_id, dl, term, count(*) AS tf FROM tf GROUP BY 1, 2, 3
), dfreq AS (
    SELECT term, count(*) AS df FROM tfc GROUP BY term
), stats AS (
    SELECT count(*) AS nd, sum(dl) AS sum_dl FROM per_doc
), scored AS (
    SELECT doc_id,
           CAST(round(
               ln(1.0 + (nd - df + 0.5) / (df + 0.5))
               * (tf * ({BM25_K1} + 1.0))
               / (tf + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * dl
                   / (CAST(sum_dl AS DOUBLE) / nd)))
               * 1000000.0) AS BIGINT) AS s_micro
    FROM tfc JOIN dfreq USING (term), stats
)
SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro,
       CAST(count(*) AS BIGINT) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY score_micro DESC, doc_id ASC LIMIT {k}
"""


@register(
    "text_bm25_topk",
    _bm25_oracle(BM25_QUERY_TERMS, 10),
    tags=("text", "retrieval"),
    bench=True,
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed 3-term query (see bm25_topk)."""
    return bm25_topk(load_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS)


# ---------------------------------------------------------------------------
# Bigram-LM surprisal (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

LM_MIN_BIGRAMS = 5


def bigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document average bigram surprisal under an add-one-smoothed
    bigram LM trained on the same corpus (self-perplexity — the
    KenLM-style quality-filter signal, minus the external model).

    p(w2|w1) = (c(w1 w2) + 1) / (c1(w1) + V)
      with c1(w1) = bigram-start count and V = |distinct tokens|.

    nll is quantized per bigram INSTANCE to micro-nats, then summed
    exactly; avg_nll = sum / n in one rounded division per doc.

    Shape at scale: bigram construction is narrow array algebra
    (zip_with over the token array — no Python, no shuffle). Then:
    bigram counts (keyed agg), start counts (keyed agg), a keyed join
    building the (bigram → nll) stats table, a keyed instance join,
    and the per-doc agg. The stats table is vocabulary²-bounded but
    Zipf-concentrated; it shuffles on the bigram key and is never
    broadcast. No step touches the driver.
    """
    t = tokens(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    inst = docs.select(
        "doc_id", F.col("lang"), F.explode(bigrams).alias("bigram")
    )
    c2 = inst.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    starts = c2.select(
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"), "c2"
    )
    c1 = starts.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = docs.select(F.explode(t).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    stats = (
        c2.withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.round(
                -F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
                * 1000000.0
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    return (
        inst.join(stats, "bigram")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("nll_micro").alias("sum_nll_micro"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
        .where(F.col("n_bigrams") >= LM_MIN_BIGRAMS)
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.round(
                F.col("sum_nll_micro").cast("double")
                / F.col("n_bigrams")
                / 1000000.0,
                6,
            ).alias("avg_nll"),
        )
    )


_LM_ORACLE = f"""
WITH toked AS (
    SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
), inst AS (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1]))
               AS bigram
    FROM toked WHERE len(toks) >= 2
), c2 AS (
    SELECT bigram, count(*) AS c2 FROM inst GROUP BY bigram
), c1 AS (
    SELECT string_split(bigram, ' ')[1] AS w1, sum(c2) AS c1
    FROM c2 GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT tok) AS v
    FROM (SELECT unnest(toks) AS tok FROM toked)
), stats AS (
    SELECT bigram,
           CAST(round(-ln((c2 + 1.0) / (c1 + v)) * 1000000.0) AS BIGINT)
               AS nll_micro
    FROM c2 JOIN c1 ON string_split(c2.bigram, ' ')[1] = c1.w1, vocab
), per_doc AS (
    SELECT doc_id, lang, sum(nll_micro) AS sum_nll_micro,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM inst JOIN stats USING (bigram)
    GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_bigrams,
       round(CAST(sum_nll_micro AS DOUBLE) / n_bigrams / 1000000.0, 6)
           AS avg_nll
FROM per_doc WHERE n_bigrams >= {LM_MIN_BIGRAMS}
"""


@register(
    "corpus_bigram_lm_score",
    _LM_ORACLE,
    tags=("text", "quality", "lm"),
)
def q_corpus_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average bigram surprisal (see bigram_lm_scores)."""
    return bigram_lm_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# DSIR importance weights (target-vs-raw unigram log-likelihood ratio)
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"
DSIR_TOP_N = 25


def dsir_weights(
    docs: DataFrame, target_pred, top_n: int = DSIR_TOP_N
) -> DataFrame:
    """DSIR importance weights: log p_target(doc)/p_raw(doc) under
    add-one-smoothed unigram models of a target subset vs the raw
    corpus (Xie et al. 2023). Docs with the highest weight are the raw
    docs that look most like the target — the resampling pool.

    λ(t) = ln((ct+1)/(Tt+V)) − ln((cr+1)/(Tr+V)) is quantized to
    micro-nats per TERM (a vocabulary-sized side table — the broadcast
    candidate at scale); the per-doc weight Σ_tokens λ_micro(t) is an
    exact integer sum over token instances.

    Shape at scale: two keyed unigram aggs (target + raw share one
    pass via conditional sums), the λ table build, one keyed instance
    join, one per-doc agg. The instance table (corpus-token-sized)
    shuffles on the term key; λ is vocab-sized.
    """
    inst = docs.select(
        "doc_id",
        "lang",
        target_pred.alias("is_target"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    counts = inst.groupBy("term").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    )
    totals = counts.agg(
        F.sum("cr").alias("tr"),
        F.sum("ct").alias("tt"),
        F.count(F.lit(1)).alias("v"),
    )
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "term",
        F.round(
            (
                F.log(
                    (F.col("ct") + 1.0) / (F.col("tt") + F.col("v"))
                )
                - F.log(
                    (F.col("cr") + 1.0) / (F.col("tr") + F.col("v"))
                )
            )
            * 1000000.0
        )
        .cast("long")
        .alias("lam_micro"),
    )
    return (
        inst.join(lam, "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("lam_micro").alias("weight_micro"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
        .orderBy(F.desc("weight_micro"), F.asc("doc_id"))
        .limit(top_n)
    )


_DSIR_ORACLE = f"""
WITH inst AS (
    SELECT doc_id, lang, lang = '{DSIR_TARGET_LANG}' AS is_target,
           unnest({_SQL_TOKS}) AS term
    FROM documents
), counts AS (
    SELECT term, count(*) AS cr,
           sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
    FROM inst GROUP BY term
), totals AS (
    SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM counts
), lam AS (
    SELECT term,
           CAST(round((ln((ct + 1.0) / (tt + v))
                       - ln((cr + 1.0) / (tr + v))) * 1000000.0)
                AS BIGINT) AS lam_micro
    FROM counts, totals
)
SELECT doc_id, lang, CAST(sum(lam_micro) AS BIGINT) AS weight_micro,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM inst JOIN lam USING (term)
GROUP BY doc_id, lang
ORDER BY weight_micro DESC, doc_id ASC LIMIT {DSIR_TOP_N}
"""


@register(
    "corpus_dsir_weights",
    _DSIR_ORACLE,
    tags=("text", "curation", "sampling"),
)
def q_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 raw docs by DSIR importance weight toward the English
    subset (see dsir_weights)."""
    return dsir_weights(
        load_table(spark, sf_dir, "documents"),
        F.col("lang") == DSIR_TARGET_LANG,
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k (greedy re-rank of the cosine shortlist)
# ---------------------------------------------------------------------------

MMR_M = 10
MMR_K = 5


def _mmr_oracle(query_vec_id: int, m: int, k: int) -> str:
    head = f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), q AS (
    SELECT v AS qvec FROM base WHERE vec_id = {query_vec_id}
), cand AS (
    SELECT vec_id, v,
           CAST(round(list_dot_product(v, qvec)
                / (sqrt(list_dot_product(v, v))
                   * sqrt(list_dot_product(qvec, qvec)))
                * 1000000.0) AS BIGINT) AS rel_micro
    FROM base, q WHERE vec_id <> {query_vec_id}
    ORDER BY rel_micro DESC, vec_id LIMIT {m}
), pairs AS (
    SELECT a.vec_id AS ai, b.vec_id AS bi,
           CAST(round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v)))
                * 1000000.0) AS BIGINT) AS s_micro
    FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
), sel1 AS (
    SELECT vec_id, rel_micro, 1 AS pick_order FROM cand
    ORDER BY rel_micro DESC, vec_id LIMIT 1
)"""
    parts = [head]
    for i in range(2, k + 1):
        parts.append(f""", pick{i} AS (
    SELECT c.vec_id, c.rel_micro, {i} AS pick_order
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
    ORDER BY 7 * c.rel_micro - 3 * (
        SELECT max(p.s_micro) FROM pairs p
        JOIN sel{i - 1} s ON p.bi = s.vec_id WHERE p.ai = c.vec_id
    ) DESC, c.vec_id LIMIT 1
), sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM pick{i})""")
    parts.append(f"""
SELECT CAST(pick_order AS INT) AS pick_order, vec_id, rel_micro
FROM sel{k}""")
    return "".join(parts)


@register(
    "similarity_mmr_diversify",
    _mmr_oracle(0, MMR_M, MMR_K),
    tags=("similarity", "retrieval"),
)
def q_similarity_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR pick of 5 diverse results from the cosine top-10
    shortlist for query vec_id=0 (see similarity.mmr_diversify); the
    oracle replays the greedy trace as unrolled CTEs."""
    from data_ingestion_py_spark.operators.similarity import mmr_diversify

    return mmr_diversify(
        load_table(spark, sf_dir, "embeddings"), 0, m=MMR_M, k=MMR_K
    )


# ---------------------------------------------------------------------------
# BPE merge learning (tokenizer induction over the corpus)
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3


def bpe_merges(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Learn the first ``rounds`` BPE merges from the corpus — the
    heart of tokenizer training (Sennrich et al. 2016) as a
    distributed pipeline: start from character symbols, repeatedly
    count adjacent symbol pairs (weighted by word frequency), merge
    the most frequent pair everywhere, repeat.

    Returns one row per merge round: (merge_round, pair, cnt).

    Merge application uses literal left-to-right non-overlapping
    string replacement on a space-delimited symbol string — for a run
    of 2k identical symbols this merges pairs 1,3,… but skips the
    boundary-sharing even pairs (e.g. ``a a a a`` → ``aa a a``, not
    ``aa aa``), a deliberate simplification that both engines compute
    identically (the DuckDB oracle replays the same replace), so the
    learned merge TABLE is reproducible even where it deviates from
    reference-BPE on degenerate runs.

    Shape at scale: the corpus is touched exactly ONCE (token explode
    → word-frequency agg, the only corpus-proportional shuffle).
    Every merge round then operates on the VOCABULARY-sized table:
    pair counts are a keyed agg, the argmax is a TakeOrdered(1), and
    applying the merge is a 1-row broadcast + narrow map. Round
    lineage grows linearly and re-derives the vocab agg per round —
    at production vocabulary sizes the vocab table would be pinned
    (an eager localCheckpoint) between rounds like kmeans does.
    """
    merges, _ = bpe_learn(docs, rounds)
    return merges


def bpe_learn(
    docs: DataFrame, rounds: int = BPE_ROUNDS
) -> tuple[DataFrame, DataFrame]:
    """See bpe_merges. Returns (merges, vocab) where vocab is the
    post-merge segmentation table (w, s, freq) — ``s`` is the word's
    space-delimited symbol sequence after all merges, the lookup table
    bpe-tokenizing the corpus needs."""
    from data_ingestion_py_spark.functions.text import tokens

    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("s"),
            "freq",
        )
    )
    merges = None
    for r in range(1, rounds + 1):
        syms = F.split(F.col("s"), " ")
        prs = F.zip_with(
            F.slice(syms, 1, F.greatest(F.size(syms) - 1, F.lit(0))),
            F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        best = (
            vocab.where(F.size(syms) >= 2)
            .select(F.explode(prs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
        )
        row = best.select(
            F.lit(r).cast("int").alias("merge_round"), "pair", "cnt"
        )
        merges = row if merges is None else merges.unionByName(row)
        vocab = vocab.crossJoin(F.broadcast(best.select("pair"))).select(
            "w",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                )
            ).alias("s"),
            "freq",
        )
    return merges, vocab


def _bpe_oracle(rounds: int) -> str:
    head = f"""
WITH v0 AS (
    SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, freq
    FROM (SELECT term AS w, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest({_SQL_TOKS}) AS term FROM documents)
          GROUP BY 1)
)"""
    parts = [head]
    for r in range(1, rounds + 1):
        parts.append(f""", b{r} AS (
    SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
    FROM (SELECT unnest(list_transform(
                     generate_series(1, len(sy) - 1),
                     i -> sy[i] || ' ' || sy[i + 1])) AS pair, freq
          FROM (SELECT string_split(s, ' ') AS sy, freq FROM v{r - 1})
          WHERE len(sy) >= 2)
    GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
), v{r} AS (
    SELECT w, trim(replace(' ' || s || ' ', ' ' || pair || ' ',
                           ' ' || replace(pair, ' ', '') || ' ')) AS s, freq
    FROM v{r - 1}, b{r}
)""")
    sel = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_round, pair, cnt FROM b{r}"
        for r in range(1, rounds + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


@register(
    "text_bpe_merges",
    _bpe_oracle(BPE_ROUNDS),
    tags=("text", "tokenizer"),
    bench=True,
)
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 learned BPE merges over the documents corpus (see
    bpe_merges); the oracle replays each merge round as unrolled CTEs."""
    return bpe_merges(load_table(spark, sf_dir, "documents"))


def _bpe_vocab_cte(rounds: int) -> str:
    """The learn-phase CTE chain of _bpe_oracle, reusable as a prefix:
    yields CTEs v0..v{rounds} (w, s, freq) and b1..b{rounds}."""
    full = _bpe_oracle(rounds)
    return full[: full.rindex("\nSELECT")]


@register(
    "corpus_subword_tokens",
    _bpe_vocab_cte(BPE_ROUNDS)
    + f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_subwords,
       round(CAST(sum(len(string_split(s, ' '))) AS DOUBLE)
             / count(*), 6) AS subwords_per_word
FROM (SELECT lang, unnest({_SQL_TOKS}) AS w FROM documents) inst
JOIN v{BPE_ROUNDS} USING (w)
GROUP BY lang
""",
    tags=("text", "tokenizer"),
)
def q_corpus_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer learning APPLIED: per-language subword token counts
    under the 3-merge BPE segmentation learned from the same corpus —
    the token-budget estimate a training run needs, composed learn +
    apply in one oracle-gated query (the tokenizer twin of
    dedup_semdedup_kmeans's learn-then-use pattern).

    Shape at scale: learn phase as in bpe_learn (corpus touched once);
    apply phase joins corpus word INSTANCES to the vocabulary-sized
    segmentation table on the word key — vocab is the broadcast
    candidate at 100 TB — then one per-lang rollup. Subword count per
    word = symbols in the final segmentation string; no re-derivation
    of merges at apply time."""
    from data_ingestion_py_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    _, vocab = bpe_learn(docs, BPE_ROUNDS)
    inst = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    n_sub = F.size(F.split(F.col("s"), " "))
    return (
        inst.join(vocab.select("w", "s"), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(n_sub).cast("long").alias("n_subwords"),
            F.round(
                F.sum(n_sub).cast("double") / F.count(F.lit(1)), 6
            ).alias("subwords_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (embedding dimensionality cut)
# ---------------------------------------------------------------------------

RP_D_IN = 64  # fixture embedding dim
RP_D_OUT = 16


@register(
    "embedding_random_projection",
    f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), dims AS (
    SELECT unnest(generate_series(0, {RP_D_OUT - 1})) AS dim
)
SELECT vec_id, CAST(dim AS INT) AS dim,
       CAST(round(list_dot_product(v,
               list_transform(generate_series(0, {RP_D_IN - 1}), i ->
                   CASE WHEN (instr('0123456789abcdef',
                              substr(md5('rp' || dim || ':' || i), 1, 1)) - 1)
                             < 8
                        THEN 1.0 ELSE -1.0 END))
             * 0.25 * 1000000.0) AS BIGINT) AS comp_micro
FROM base, dims
""",
    tags=("similarity", "embedding"),
)
def q_embedding_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JL projection of every embedding to 16 dims (long form; see
    similarity.random_projection). The oracle re-derives the ±1
    Rademacher matrix from md5 in SQL — engine-portable construction,
    not a frozen constant table."""
    from data_ingestion_py_spark.operators.similarity import (
        random_projection,
    )

    return random_projection(
        load_table(spark, sf_dir, "embeddings"), d_in=RP_D_IN, d_out=RP_D_OUT
    )


# ---------------------------------------------------------------------------
# PMI co-occurrence (distributional word association, window ±2)
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 25
PMI_TOP_N = 20


@register(
    "text_pmi_pairs",
    f"""
WITH toked AS (
    SELECT {_SQL_TOKS} AS toks FROM documents
), pair_inst AS (
    SELECT unnest(list_concat(
        list_transform(generate_series(1, len(toks) - 1), i ->
            least(toks[i], toks[i + 1]) || ' ' ||
            greatest(toks[i], toks[i + 1])),
        list_transform(generate_series(1, len(toks) - 2), i ->
            least(toks[i], toks[i + 2]) || ' ' ||
            greatest(toks[i], toks[i + 2])))) AS pair
    FROM toked
), pc AS (
    SELECT pair, CAST(count(*) AS BIGINT) AS c_ab
    FROM pair_inst GROUP BY pair
), uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(toks) AS w FROM toked) GROUP BY w
), stats AS (
    SELECT (SELECT sum(c) FROM uni) AS t1,
           (SELECT sum(c_ab) FROM pc) AS t2
), scored AS (
    SELECT string_split(pair, ' ')[1] AS w1,
           string_split(pair, ' ')[2] AS w2,
           c_ab,
           CAST(round(ln(((c_ab * 1.0) / t2)
                         / (((ua.c * 1.0) / t1) * ((ub.c * 1.0) / t1)))
                      * 1000000.0) AS BIGINT) AS pmi_micro
    FROM pc
    JOIN uni ua ON ua.w = string_split(pc.pair, ' ')[1]
    JOIN uni ub ON ub.w = string_split(pc.pair, ' ')[2],
    stats
    WHERE c_ab >= {PMI_MIN_PAIR}
)
SELECT w1, w2, c_ab, pmi_micro FROM scored
ORDER BY pmi_micro DESC, w1, w2 LIMIT {PMI_TOP_N}
""",
    tags=("text", "cooccurrence"),
)
def q_text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pointwise-mutual-information word pairs within a ±2 token
    window (Church & Hanks 1990) — the distributional-association
    signal behind collocation mining and word-vector objectives.

    Shape at scale: pair construction is narrow array algebra (two
    zip_with offset zips, canonical (least,greatest) ordering folds
    both directions into one key); pair counts and unigram counts are
    keyed aggs; the frequency floor filters BEFORE the two uni joins
    so only head pairs join; T1/T2 are 1-row broadcasts. The pair
    table shuffles on the pair key and is never broadcast; uni is the
    vocabulary-sized broadcast candidate."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)

    def offset_pairs(off: int):
        ln = F.greatest(n - off, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, ln),
            F.slice(t, 1 + off, ln),
            lambda a, b: F.concat(
                F.least(a, b), F.lit(" "), F.greatest(a, b)
            ),
        )

    pair_inst = d.select(
        F.explode(F.concat(offset_pairs(1), offset_pairs(2))).alias("pair")
    )
    pc = (
        pair_inst.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_PAIR)
        .select(
            F.split(F.col("pair"), " ").getItem(0).alias("w1"),
            F.split(F.col("pair"), " ").getItem(1).alias("w2"),
            "c_ab",
        )
    )
    uni = d.select(F.explode(t).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    # NOTE: t2 must be the UNFILTERED pair-instance total
    stats = (
        pair_inst.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .agg(F.sum("c_ab").alias("t2"))
        .crossJoin(F.broadcast(uni.agg(F.sum("c").alias("t1"))))
    )
    pmi = F.log(
        ((F.col("c_ab") * 1.0) / F.col("t2"))
        / (
            ((F.col("ca") * 1.0) / F.col("t1"))
            * ((F.col("cb") * 1.0) / F.col("t1"))
        )
    )
    return (
        pc.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("ca"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("cb"))),
            "w2",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(pmi * 1000000.0).cast("long").alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_N)
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture quotas (UniMax-style corpus rebalancing)
# ---------------------------------------------------------------------------

TEMP_BUDGET = 300  # total docs the rebalanced mix may keep


@register(
    "corpus_temperature_mixture",
    f"""
WITH counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_total FROM documents
    GROUP BY source
), weighted AS (
    SELECT source, n_total,
           CAST(round(sqrt(n_total) * 1000000.0) AS BIGINT) AS sm
    FROM counts
), quotas AS (
    SELECT source, n_total,
           ({TEMP_BUDGET} * sm) // (SELECT sum(sm) FROM weighted) AS quota
    FROM weighted
), ranked AS (
    SELECT source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM documents
)
SELECT q.source, q.n_total, CAST(q.quota AS BIGINT) AS quota,
       CAST(count(*) FILTER (WHERE r.rn <= q.quota) AS BIGINT) AS n_kept
FROM quotas q JOIN ranked r ON r.source = q.source
GROUP BY q.source, q.n_total, q.quota
""",
    tags=("curation", "sampling", "mixture"),
)
def q_corpus_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled (α=0.5) mixture rebalancing: per-source keep
    quotas ∝ n^α under a fixed total budget — the UniMax/mT5-style
    flattening that up-weights small sources relative to proportional
    sampling, with the quota DERIVED FROM the observed distribution
    (unlike corpus_mixture_sample's config-given rates). Selection
    inside each source is md5-rank deterministic, so every engine and
    every retry keeps the same docs.

    Determinism: √n is quantized to micro-units and the weight
    normalization is exact integer arithmetic ((budget·sm) DIV Σsm) —
    no float sums across sources. Shape at scale: one source-keyed
    count agg (tiny), a 1-row total broadcast, and a per-source
    bounded rank window (the stratified_fixed_n shape); the corpus
    never single-partitions."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    weighted = counts.select(
        "source",
        "n_total",
        F.round(F.sqrt(F.col("n_total")) * 1000000.0)
        .cast("long")
        .alias("sm"),
    )
    total = weighted.agg(F.sum("sm").alias("t"))
    quotas = weighted.crossJoin(F.broadcast(total)).select(
        "source",
        "n_total",
        F.expr(f"({TEMP_BUDGET} * sm) DIV t").cast("long").alias("quota"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("source", F.row_number().over(w).alias("rn"))
    return (
        quotas.join(ranked, "source")
        .groupBy("source", "n_total", "quota")
        .agg(
            F.sum((F.col("rn") <= F.col("quota")).cast("int"))
            .cast("long")
            .alias("n_kept")
        )
    )


_RP_SIGN_SQL = """CASE WHEN (instr('0123456789abcdef',
                              substr(md5('rp' || {j} || ':' || i), 1, 1)) - 1)
                             < 8
                        THEN 1.0 ELSE -1.0 END"""


RP_ANN_D_OUT = 32
RP_ANN_SHORTLIST = 100

@register(
    "similarity_rp_topk",
    f"""
WITH base AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), normed AS (
    SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
    FROM base
), projected AS (
    SELECT vec_id,
           list_transform(generate_series(0, {RP_ANN_D_OUT - 1}), j ->
               CAST(round(list_dot_product(vn,
                   list_transform(generate_series(0, {RP_D_IN - 1}), i ->
                       {_RP_SIGN_SQL.format(j="j")}))
                 * (1.0 / sqrt({RP_ANN_D_OUT}.0)) * 1000000.0) AS BIGINT)) AS p
    FROM normed
), qp AS (
    SELECT p AS qp FROM projected WHERE vec_id = 0
), short AS (
    SELECT vec_id,
           CAST(list_sum(list_transform(generate_series(1, {RP_ANN_D_OUT}),
                j -> (p[j] - qp[j]) * (p[j] - qp[j]))) AS BIGINT)
               AS coarse_d2
    FROM projected, qp WHERE vec_id <> 0
    ORDER BY coarse_d2, vec_id LIMIT {RP_ANN_SHORTLIST}
), q AS (
    SELECT v AS qvec FROM base WHERE vec_id = 0
)
SELECT b.vec_id, b.label, s.coarse_d2,
       CAST(round(list_dot_product(v, qvec)
            / (sqrt(list_dot_product(v, v))
               * sqrt(list_dot_product(qvec, qvec)))
            * 1000000.0) AS BIGINT) AS cosine_micro
FROM base b JOIN short s ON b.vec_id = s.vec_id, q
ORDER BY cosine_micro DESC, b.vec_id LIMIT 10
""",
    tags=("similarity", "ann"),
    bench=True,
)
def q_similarity_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-projection ANN: integer coarse top-100 in the 32-dim projected
    space, exact cosine rerank to top-10 (see similarity.rp_topk) —
    the compressed-first-pass sibling of IVF/PQ, composed with the
    random_projection operator in one oracle-gated query."""
    from data_ingestion_py_spark.operators.similarity import rp_topk

    return rp_topk(
        load_table(spark, sf_dir, "embeddings"),
        0,
        d_in=RP_D_IN,
        d_out=RP_ANN_D_OUT,
        shortlist=RP_ANN_SHORTLIST,
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-pair construction)
# ---------------------------------------------------------------------------

NEG_N_ANCHORS = 10
NEG_PER_ANCHOR = 5
NEG_PREFILTER = 26  # of 256 → ~10% candidate thinning before ranking


@register(
    "corpus_negative_samples",
    f"""
WITH anchors AS (
    SELECT doc_id AS anchor_id, source AS a_source FROM documents
    WHERE doc_id < {NEG_N_ANCHORS}
), cand AS (
    SELECT a.anchor_id, d.doc_id AS neg_id,
           md5(CAST(a.anchor_id AS VARCHAR) || ':'
               || CAST(d.doc_id AS VARCHAR)) AS h
    FROM documents d JOIN anchors a ON d.source <> a.a_source
    WHERE (instr('0123456789abcdef',
                 substr(md5(CAST(a.anchor_id AS VARCHAR) || ':'
                            || CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef',
                   substr(md5(CAST(a.anchor_id AS VARCHAR) || ':'
                              || CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1)
          < {NEG_PREFILTER}
)
SELECT anchor_id, neg_id, CAST(rn AS INT) AS rank
FROM (SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY h, neg_id) AS rn
      FROM cand)
WHERE rn <= {NEG_PER_ANCHOR}
""",
    tags=("curation", "sampling", "contrastive"),
)
def q_corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive pairs: 5 random
    negatives per anchor, never from the anchor's own source (the
    standard same-domain-leak guard), selected by md5 rank so every
    engine/retry draws the same negatives.

    Shape at scale: anchors broadcast (contrastive anchor sets are
    batch-sized); the candidate stream is hash-THINNED in the narrow
    map (~10% here; the rate shrinks with corpus size since only
    ~per_anchor·safety survivors are needed) BEFORE the per-anchor
    rank window, so no anchor partition ever holds the corpus. The
    md5 pair hash doubles as both the thinning coin and the ranking
    key — one expression, no RNG state."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    anchors = d.where(F.col("doc_id") < NEG_N_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("source").alias("a_source"),
    )
    h = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("neg_id").cast("string"),
        )
    )
    cand = (
        d.select(F.col("doc_id").alias("neg_id"), "source")
        .join(
            F.broadcast(anchors), F.col("source") != F.col("a_source")
        )
        .select("anchor_id", "neg_id", h.alias("h"))
        .where(
            F.conv(F.substring(F.col("h"), 1, 2), 16, 10).cast("int")
            < NEG_PREFILTER
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        cand.select(
            "anchor_id", "neg_id", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= NEG_PER_ANCHOR)
        .select("anchor_id", "neg_id", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Character-entropy quality gate
# ---------------------------------------------------------------------------

ENTROPY_BOTTOM_N = 20


@register(
    "text_char_entropy",
    f"""
WITH chars AS (
    SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
    FROM documents WHERE len(text) > 0
), cc AS (
    SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
    FROM chars WHERE ch <> '' GROUP BY doc_id, ch
), n AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY doc_id
), terms AS (
    SELECT cc.doc_id,
           CAST(round(-((cc.c * 1.0) / n.n) * ln((cc.c * 1.0) / n.n)
                      * 1000000.0) AS BIGINT) AS t_micro
    FROM cc JOIN n USING (doc_id)
)
SELECT doc_id, CAST(sum(t_micro) AS BIGINT) AS entropy_micro
FROM terms GROUP BY doc_id
ORDER BY entropy_micro ASC, doc_id ASC LIMIT {ENTROPY_BOTTOM_N}
""",
    tags=("text", "quality"),
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-20 documents by character-level Shannon entropy — the
    cheap repetitive-garbage detector (low entropy = few distinct
    chars dominating, e.g. padding/boilerplate runs) that complements
    the token-level Gopher gates in text_repetition_filters.

    Per-(doc,char) entropy terms are micro-nat quantized before the
    exact integer per-doc sum. Shape at scale: one (doc,char) keyed
    agg (≤ |alphabet| rows per doc), a doc-keyed total join, narrow
    term math, one per-doc sum — all keyed shuffles at
    corpus-character cardinality upper-bounded by doc×alphabet."""
    d = load_table(spark, sf_dir, "documents")
    cc = (
        d.where(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.col("text"), ""), lambda c: c != ""
                )
            ).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = cc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = (F.col("c") * 1.0) / F.col("n")
    terms = cc.join(n, "doc_id").select(
        "doc_id",
        F.round(-p * F.log(p) * 1000000.0).cast("long").alias("t_micro"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(F.sum("t_micro").cast("long").alias("entropy_micro"))
        .orderBy(F.asc("entropy_micro"), F.asc("doc_id"))
        .limit(ENTROPY_BOTTOM_N)
    )


# ---------------------------------------------------------------------------
# Corpus drift monitor (unigram KL divergence between snapshots)
# ---------------------------------------------------------------------------

DRIFT_TOP_N = 15


@register(
    "corpus_drift_terms",
    f"""
WITH inst AS (
    SELECT doc_id % 2 = 1 AS is_cur, unnest({_SQL_TOKS}) AS term
    FROM documents
), counts AS (
    SELECT term,
           sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS cc,
           sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS cp
    FROM inst GROUP BY term
), totals AS (
    SELECT sum(cc) AS tc, sum(cp) AS tp, count(*) AS v FROM counts
)
SELECT term, CAST(cc AS BIGINT) AS c_cur, CAST(cp AS BIGINT) AS c_prev,
       CAST(round((((cc + 1.0) / (tc + v))
                   * ln(((cc + 1.0) / (tc + v)) / ((cp + 1.0) / (tp + v))))
                  * 1000000000.0) AS BIGINT) AS contrib_nano
FROM counts, totals
ORDER BY contrib_nano DESC, term LIMIT {DRIFT_TOP_N}
""",
    tags=("dq", "drift"),
)
def q_corpus_drift_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the terms contributing most to
    KL(current ‖ previous) between two corpus snapshots (stand-in
    split: odd/even doc_id), with add-one smoothing over the union
    vocabulary — the check a recurring ingestion pipeline runs to
    catch a source going off the rails between builds.

    Per-term KL contributions are nano-nat quantized (contributions
    are tiny — micro would truncate to 0); the full-divergence rollup
    is the exact integer sum of the SAME contrib column, so one query
    serves both the alert metric and its explanation. Shape at scale:
    both snapshots counted in ONE pass (conditional sums keyed on
    term), 1-row totals broadcast, TakeOrdered head."""
    d = load_table(spark, sf_dir, "documents")
    inst = d.select(
        (F.col("doc_id") % 2 == 1).alias("is_cur"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    counts = inst.groupBy("term").agg(
        F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).alias("cc"),
        F.sum(F.when(F.col("is_cur"), 0).otherwise(1)).alias("cp"),
    )
    totals = counts.agg(
        F.sum("cc").alias("tc"),
        F.sum("cp").alias("tp"),
        F.count(F.lit(1)).alias("v"),
    )
    pc = (F.col("cc") + 1.0) / (F.col("tc") + F.col("v"))
    pp = (F.col("cp") + 1.0) / (F.col("tp") + F.col("v"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.col("cc").cast("long").alias("c_cur"),
            F.col("cp").cast("long").alias("c_prev"),
            F.round((pc * F.log(pc / pp)) * 1000000000.0)
            .cast("long")
            .alias("contrib_nano"),
        )
        .orderBy(F.desc("contrib_nano"), F.asc("term"))
        .limit(DRIFT_TOP_N)
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis priorities)
# ---------------------------------------------------------------------------

WS_SAMPLE_N = 50


@register(
    "corpus_weighted_sample",
    f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           CAST(round(
               -ln(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16777216.0
                    + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 1048576.0
                    + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 65536.0
                    + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 4096.0
                    + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 256.0
                    + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * 16.0
                    + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 1.0
                    + 0.5) / 268435456.0)
               / n_chars * 1000000000.0) AS BIGINT) AS priority_nano
    FROM (SELECT doc_id, n_chars,
                 md5('ws|' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents WHERE n_chars > 0)
)
SELECT doc_id, CAST(n_chars AS INT) AS n_chars, priority_nano
FROM keyed ORDER BY priority_nano ASC, doc_id ASC LIMIT {WS_SAMPLE_N}
""",
    tags=("curation", "sampling", "weighted"),
)
def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement at corpus scale
    (Efraimidis & Spirakis 2006 A-Res): each doc draws a deterministic
    uniform u from md5, gets priority −ln(u)/w (weight = n_chars), and
    the sample is the global top-n by SMALLEST priority — equivalent
    to sequential weighted draws, but expressed as one TakeOrdered
    over a narrow map (no RNG state, no sequential pass, reproducible
    across engines/retries/partitionings).

    The uniform is built from the first 7 md5 hex digits as exact
    dyadic arithmetic ((h28 + 0.5) / 2²⁸) so Spark and the oracle
    compute bit-identical doubles before the single ln/÷; priorities
    are nano-quantized for the hash gate."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h28 = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))), 1, 7),
        16,
        10,
    ).cast("double")
    u = (h28 + 0.5) / 268435456.0
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("int").alias("n_chars"),
            F.round(-F.log(u) / F.col("n_chars") * 1000000000.0)
            .cast("long")
            .alias("priority_nano"),
        )
        .orderBy(F.asc("priority_nano"), F.asc("doc_id"))
        .limit(WS_SAMPLE_N)
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (algebraic partial-state merge)
# ---------------------------------------------------------------------------


@register(
    "events_incremental_rollup",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS min_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS max_cents
FROM events GROUP BY event_type
""",
    tags=("rollup", "incremental"),
)
def q_events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance, proven against a full
    recompute: the events table is split into a PRIOR state half and a
    NEW batch half (event_id parity standing in for yesterday/today);
    each is rolled up independently into algebraic partial states
    (count/sum/min/max over cent-exact integers), and the two states
    are MERGED with a full-outer key join + combine — the operation an
    incremental pipeline runs so a daily batch never rescans the
    100 TB history. The oracle aggregates the whole table in one pass,
    so any non-algebraic merge bug (lost group, double count, wrong
    null handling on groups present in only one half)
    hash-mismatches.

    Shape at scale: two keyed rollups at partial-state cardinality
    (|event_type|), one co-keyed outer join of state-sized tables —
    the batch side is the only thing proportional to new data."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )

    prior = rollup(e.where(F.col("event_id") % 2 == 0))
    batch = rollup(e.where(F.col("event_id") % 2 == 1))
    p = prior.select(
        "event_type",
        F.col("n").alias("pn"),
        F.col("sum_cents").alias("ps"),
        F.col("min_cents").alias("pmin"),
        F.col("max_cents").alias("pmax"),
    )
    b = batch.select(
        "event_type",
        F.col("n").alias("bn"),
        F.col("sum_cents").alias("bs"),
        F.col("min_cents").alias("bmin"),
        F.col("max_cents").alias("bmax"),
    )
    merged = p.join(b, "event_type", "full_outer")
    z = F.lit(0).cast("long")
    return merged.select(
        "event_type",
        (F.coalesce(F.col("pn"), z) + F.coalesce(F.col("bn"), z))
        .cast("long")
        .alias("n"),
        (F.coalesce(F.col("ps"), z) + F.coalesce(F.col("bs"), z))
        .cast("long")
        .alias("sum_cents"),
        F.least(
            F.coalesce(F.col("pmin"), F.col("bmin")),
            F.coalesce(F.col("bmin"), F.col("pmin")),
        )
        .cast("long")
        .alias("min_cents"),
        F.greatest(
            F.coalesce(F.col("pmax"), F.col("bmax")),
            F.coalesce(F.col("bmax"), F.col("pmax")),
        )
        .cast("long")
        .alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# Shingle containment (asymmetric doc-in-doc / quote detection)
# ---------------------------------------------------------------------------


@register(
    "dedup_containment_pairs",
    """
WITH frags AS (
    SELECT doc_id + 2000000 AS doc_id, doc_id AS orig_id,
           array_to_string(toks[6:21], ' ') AS text
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
    WHERE len(toks) >= 25 AND doc_id % 7 = 0
), sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(0, len(toks) - 3),
               i -> array_to_string(toks[i+1 : i+3], ' '))) AS s
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                     AS toks
          FROM documents
          UNION ALL
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                     AS toks
          FROM frags)
    WHERE len(toks) >= 3
)
SELECT f.doc_id AS frag_id, f.orig_id,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(a.s), 6) AS containment,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
           AS is_quote
FROM frags f
JOIN sh a ON a.doc_id = f.doc_id
JOIN sh b ON b.doc_id = f.orig_id
""",
    tags=("dedup", "containment"),
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup verification: shingle containment
    C(A,B) = |A∩B| / |A| next to symmetric Jaccard, on planted
    fragment→original pairs (each fragment is a 16-token middle slice
    of its source doc). Containment ≈ 1 flags doc-in-doc duplication —
    quotes, excerpts, chunk re-ingestion — exactly the cases whole-doc
    Jaccard scores LOW because the union is dominated by the longer
    side (Broder 1997 distinguishes resemblance vs containment; both
    pinned here so the difference is visible in one result).

    Shape at scale: fragments derive in a narrow map; the pair join is
    keyed on the planted (frag → orig) candidate ids — in production
    the candidate set comes from the same LSH banding the resemblance
    path uses, so this adds only the per-candidate containment
    arithmetic."""
    from data_ingestion_py_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    frags = (
        d.where((F.size(toks) >= 25) & (F.col("doc_id") % 7 == 0))
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.col("doc_id").alias("orig_id"),
            F.array_join(F.slice(toks, 6, 16), " ").alias("text"),
        )
    )
    corpus = d.select("doc_id", "text").unionByName(
        frags.select("doc_id", "text")
    )
    # Token-count form of the "too short to shingle" gate: filtering on
    # size(shingles) would re-evaluate the whole shingle subtree inside
    # the Filter operator (no subexpression sharing across Filter and
    # Project) — same semantics, half the per-row work.
    sh = (
        dedup.with_shingles(
            corpus.where(
                F.size(tokens(F.col("text"))) >= dedup.SHINGLE_K
            )
        )
        .select("doc_id", F.array_distinct("shingles").alias("s"))
    )
    a = sh.select(F.col("doc_id").alias("frag_id"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("orig_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.array_distinct(F.concat(F.col("sa"), F.col("sb"))))
    cont = inter.cast("double") / F.size("sa")
    return (
        frags.select("doc_id", "orig_id")
        .withColumnRenamed("doc_id", "frag_id")
        .join(a, "frag_id")
        .join(b, "orig_id")
        .select(
            "frag_id",
            "orig_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
            F.round(cont, 6).alias("containment"),
            (cont >= 0.9).alias("is_quote"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 over the snippets view (the reference's search surface, lexical)
# ---------------------------------------------------------------------------


def _snippets_bm25_oracle() -> str:
    from data_ingestion_py_spark.queries import SNIPPET_CTE

    inner = _bm25_oracle(BM25_QUERY_TERMS, 10)
    # rebase the doc-level oracle onto the snippet view: snippets get a
    # synthetic unique id and their text becomes the scored field
    inner = inner.replace("WITH per_doc AS (", ", per_doc AS (", 1)
    inner = inner.replace(
        "FROM (SELECT doc_id, "
        + _SQL_TOKS
        + " AS toks FROM documents)",
        "FROM (SELECT doc_id * 1000 + snippet_id AS doc_id, "
        + "list_filter(string_split(snippet_text, ' '), x -> x <> '') "
        + "AS toks FROM snippets)",
    )
    final = SNIPPET_CTE + inner
    return final.replace(
        "SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro",
        "SELECT doc_id // 1000 AS doc_id, "
        "CAST(doc_id % 1000 AS INT) AS snippet_id, "
        "CAST(sum(s_micro) AS BIGINT) AS score_micro",
    ).replace(
        "FROM scored GROUP BY doc_id",
        "FROM scored GROUP BY doc_id // 1000, doc_id % 1000",
    ).replace(
        "ORDER BY score_micro DESC, doc_id ASC LIMIT 10",
        "ORDER BY score_micro DESC, doc_id ASC, snippet_id ASC LIMIT 10",
    )


@register(
    "snippets_bm25_search",
    _snippets_bm25_oracle(),
    tags=("text", "retrieval", "snippets"),
)
def q_snippets_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked search over the SNIPPETS derived view — the lexical
    realization of the reference's declared capability ('active
    snippets … used by a similarity search', README.md:3): snippetize
    exactly as snippets_flat does, then rank windows for the fixed
    query, returning the top snippet hits with their (doc, snippet)
    coordinates. Composes the oracle-verified snippetize algebra with
    the oracle-verified BM25 scorer in one hash-gated query; snippet
    identity rides through the scorer as a synthetic doc_id*1000+id
    key and is unpacked at the end."""
    from data_ingestion_py_spark.operators.snippetize import snippetize

    d = load_table(spark, sf_dir, "documents")
    snips = snippetize(d).select(
        (F.col("doc_id") * 1000 + F.col("snippet_id")).alias("doc_id"),
        F.col("snippet_text").alias("text"),
    )
    ranked = bm25_topk(snips, BM25_QUERY_TERMS, k=10)
    return ranked.select(
        F.expr("doc_id DIV 1000").alias("doc_id"),
        (F.col("doc_id") % 1000).cast("int").alias("snippet_id"),
        "score_micro",
        "n_terms",
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation (confusion matrix vs ground-truth labels)
# ---------------------------------------------------------------------------


@register(
    "text_langid_confusion",
    f"""
WITH t AS (
    SELECT doc_id, lang AS lang_label, {_SQL_TOKS} AS toks FROM documents
), s AS (
    SELECT doc_id, lang_label,
           len(list_filter(toks, t -> list_contains(['the','a','of','and'], t)))
               / len(toks) AS score_en,
           len(list_filter(toks, t -> list_contains(['el','la','de','que'], t)))
               / len(toks) AS score_es,
           len(list_filter(toks, t -> list_contains(['der','die','das','und'], t)))
               / len(toks) AS score_de
    FROM t WHERE len(toks) > 0
), g AS (
    SELECT lang_label,
           CASE WHEN greatest(score_en, score_es, score_de) < 0.02 THEN 'und'
                WHEN score_en = greatest(score_en, score_es, score_de) THEN 'en'
                WHEN score_es = greatest(score_en, score_es, score_de) THEN 'es'
                ELSE 'de' END AS lang_guess
    FROM s
)
SELECT lang_label, lang_guess,
       CAST(count(*) AS BIGINT) AS n,
       lang_label = lang_guess AS is_correct
FROM g GROUP BY lang_label, lang_guess
""",
    tags=("text", "langid", "eval"),
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the lang-ID heuristic's
    confusion matrix against the fixture's ground-truth labels (one
    cell per label×guess with counts and a correctness flag) — the
    eval rollup any in-pipeline classifier needs before its output
    gates a filter. Composes the oracle-verified language_id operator
    with one tiny keyed agg; at 100 TB the matrix is |langs|² rows."""
    from data_ingestion_py_spark.operators import text_analysis

    d = load_table(spark, sf_dir, "documents")
    g = text_analysis.language_id(d).select("lang_label", "lang_guess")
    return g.groupBy("lang_label", "lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first(F.col("lang_label") == F.col("lang_guess")).alias(
            "is_correct"
        ),
    )


# ---------------------------------------------------------------------------
# Group-wise linear regression (per-type value trend)
# ---------------------------------------------------------------------------


@register(
    "events_value_trend",
    """
WITH pts AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS x,
           CAST(round(value * 100) AS BIGINT) AS y
    FROM events
), sums AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       CAST(round((n * sxy - sx * sy) * 1000000.0
                  / (n * sxx - sx * sx)) AS BIGINT)
           AS slope_cents_per_day_micro
FROM sums WHERE n * sxx - sx * sx <> 0
""",
    tags=("analytics", "regression"),
)
def q_events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend: the slope of event value
    (cents) against time (epoch days) for every event_type — drift /
    trend detection as ONE keyed aggregation. The closed-form slope
    (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) runs on EXACT integer sums (x = whole
    days, y = cents), so partial-aggregation order cannot move the
    result; the only float op is the final division, identical on both
    engines. At 100 TB the integer sums outgrow int64 for microsecond
    x or large n — the swap is DECIMAL(38,0) sums, same algebra.

    Shape at scale: one narrow map + one keyed hash agg; the
    regression itself is free."""
    from data_ingestion_py_spark.functions.time import ts_us

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        (ts_us(F.col("ts")) / F.lit(86400000000)).cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        sums.where(det != 0)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * 1000000.0
                / det
            )
            .cast("long")
            .alias("slope_cents_per_day_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Rank-size power-law fit (corpus length distribution diagnostics)
# ---------------------------------------------------------------------------


@register(
    "corpus_length_powerlaw",
    """
WITH ranked AS (
    SELECT n_chars,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
    FROM documents WHERE n_chars > 0
), pts AS (
    SELECT CAST(round(ln(rk) * 1000000.0) AS BIGINT) AS x,
           CAST(round(ln(n_chars) * 1000000.0) AS BIGINT) AS y
    FROM ranked
), sums AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts
)
SELECT n,
       CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000000.0
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            AS BIGINT) AS slope_micro,
       CAST(round((CAST(sy AS DOUBLE)
                   - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
            AS BIGINT) AS intercept_micro
FROM sums
""",
    tags=("analytics", "regression", "profile"),
)
def q_corpus_length_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf/power-law diagnostic of the corpus length distribution:
    OLS fit of ln(length) against ln(rank) — slope ≈ the rank-size
    exponent, the one-number summary of how heavy-tailed the corpus is
    (drives packing/skew planning). Composes the scalable two-phase
    global rank (operators/ranking.py — NO single-partition sort over
    the corpus) with the exact-integer-sums regression shape of
    events_value_trend: ln() per row is quantized to micro-nats, the
    five sufficient statistics are exact integer sums, the fit is two
    final float ops. The oracle uses a naive global window (the
    independent-algorithm pattern).

    The five SUMS stay exact int64 (sxx ≈ n·(ln n·1e6)² — safe past
    10⁸ rows; beyond that the documented swap is DECIMAL(38,0) sums),
    but the closing cross-products n·sxx / n·sxy overflow int64 from
    ~5·10³ rows (caught by the round-7 sf0.1 sweep), so the final
    ratio is computed in DOUBLE from the exact sums — one rounding per
    operand, identical expression order both engines, slope error
    ≤ 1e-8 micro-units at any corpus size."""
    from data_ingestion_py_spark.operators.ranking import with_global_rank

    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    ranked = with_global_rank(
        d.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        rank_col="rk",
        total_col="_n",
    )
    pts = ranked.select(
        F.round(F.log(F.col("rk").cast("double")) * 1000000.0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n_chars").cast("double")) * 1000000.0)
        .cast("long")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    det = n_d * sxx_d - sx_d * sx_d
    num = n_d * sxy_d - sx_d * sy_d
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.round(num * 1000000.0 / det).cast("long").alias("slope_micro"),
        F.round((sy_d - num / det * sx_d) / n_d)
        .cast("long")
        .alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# Association mining (market-basket brand pairs with lift)
# ---------------------------------------------------------------------------

BASKET_MIN_PAIR = 5
BASKET_TOP_N = 20


@register(
    "orders_brand_basket_pairs",
    f"""
WITH items AS (
    SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), nb AS (
    SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM items
), brand_n AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY brand
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(count(*) AS BIGINT) AS c_ab
    FROM items a JOIN items b
      ON a.okey = b.okey AND a.brand < b.brand
    GROUP BY 1, 2
)
SELECT brand_a, brand_b, c_ab,
       CAST(round((c_ab * 1.0 / n_baskets)
                  / ((ca.c * 1.0 / n_baskets) * (cb.c * 1.0 / n_baskets))
                  * 1000000.0) AS BIGINT) AS lift_micro
FROM pairs
JOIN brand_n ca ON ca.brand = pairs.brand_a
JOIN brand_n cb ON cb.brand = pairs.brand_b, nb
WHERE c_ab >= {BASKET_MIN_PAIR}
ORDER BY lift_micro DESC, brand_a, brand_b LIMIT {BASKET_TOP_N}
""",
    tags=("analytics", "association"),
)
def q_orders_brand_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining: top brand pairs by LIFT across order
    baskets — support(a,b) / (support(a)·support(b)), the a-priori
    first rung (which brands co-occur beyond chance). Distinct
    (order, brand) items first (multi-line orders don't inflate
    support), then a basket-keyed self-join with the a<b canonical
    guard bounds candidate pairs by Σ(basket size²) — the same
    bounded-pair discipline as SemDeDup, here keyed on the natural
    basket id. Brand marginals and the basket count broadcast; the
    frequency floor prunes before the marginal joins.

    At 100 TB basket sizes are bounded (orders have ≤7 lines here),
    so the self-join stays linear in baskets; hot-basket skew would
    use the salting operator."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_partkey"
    )
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    items = li.join(parts, "l_partkey").select("okey", "brand").distinct()
    nb = items.agg(F.countDistinct("okey").alias("n_baskets"))
    brand_n = items.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    a = items.select("okey", F.col("brand").alias("brand_a"))
    b = items.select("okey", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= BASKET_MIN_PAIR)
    )
    lift = (
        (F.col("c_ab") * 1.0 / F.col("n_baskets"))
        / (
            (F.col("ca") * 1.0 / F.col("n_baskets"))
            * (F.col("cb") * 1.0 / F.col("n_baskets"))
        )
    )
    return (
        pairs.join(
            F.broadcast(
                brand_n.select(
                    F.col("brand").alias("brand_a"), F.col("c").alias("ca")
                )
            ),
            "brand_a",
        )
        .join(
            F.broadcast(
                brand_n.select(
                    F.col("brand").alias("brand_b"), F.col("c").alias("cb")
                )
            ),
            "brand_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "brand_a",
            "brand_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(lift * 1000000.0).cast("long").alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(BASKET_TOP_N)
    )


# ---------------------------------------------------------------------------
# Robust outlier gate (median absolute deviation, all-integer compare)
# ---------------------------------------------------------------------------


@register(
    "events_mad_outliers",
    """
WITH q AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
), med AS (
    SELECT event_type,
           CAST(round(2 * quantile_cont(vc, 0.5)) AS BIGINT) AS med2
    FROM q GROUP BY event_type
), dev AS (
    SELECT q.event_type, abs(2 * vc - med2) AS dev2
    FROM q JOIN med ON q.event_type = med.event_type
), mad AS (
    SELECT event_type,
           CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
    FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(any_value(med2) AS BIGINT) AS med_halfcents,
       CAST(any_value(mad4) AS BIGINT) AS mad_quartercents,
       CAST(sum(CASE WHEN 13490 * dev2 > 35000 * mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev
JOIN mad ON dev.event_type = mad.event_type
JOIN med ON dev.event_type = med.event_type
GROUP BY dev.event_type
""",
    tags=("timeseries", "quality", "robust"),
)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier gate via median absolute deviation
    (Iglewicz-Hoaglin modified z-score, threshold 3.5) — the
    heavy-tail-safe sibling of events_zscore_outliers: one extreme
    value shifts a mean/stddev gate but not a median/MAD gate.

    Entirely integer-deterministic: medians of integer cents land on
    halves, so doubling gives exact ints (med2 = 2·median,
    mad4 = 4·MAD) and the outlier test becomes the integer comparison
    13490·dev2 > 35000·mad4 (≡ 0.6745·|x−med|/MAD > 3.5) — no float
    boundary anywhere, including the mad=0 degenerate case (any
    deviation flags). Shape at scale: two exact-median aggs + two
    broadcast joins of the type-sized stats; the scale swap is
    approx_percentile for the medians, same algebra."""
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    med = q.groupBy("event_type").agg(
        F.round(2 * F.percentile("vc", F.lit(0.5)))
        .cast("long")
        .alias("med2")
    )
    dev = q.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("vc") - F.col("med2")).alias("dev2")
    )
    mad = dev.groupBy("event_type").agg(
        F.round(2 * F.percentile("dev2", F.lit(0.5)))
        .cast("long")
        .alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("med2").cast("long").alias("med_halfcents"),
            F.first("mad4").cast("long").alias("mad_quartercents"),
            F.sum(
                (13490 * F.col("dev2") > 35000 * F.col("mad4")).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Burst detection (hourly rate spikes vs trailing baseline)
# ---------------------------------------------------------------------------

BURST_TRAIL_H = 24
BURST_FACTOR = 3


@register(
    "events_burst_hours",
    f"""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
), w AS (
    SELECT event_type, h, c,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY h
                             RANGE BETWEEN {BURST_TRAIL_H} PRECEDING
                                       AND 1 PRECEDING) AS BIGINT)
               AS trail_c,
           CAST(count(*) OVER (PARTITION BY event_type ORDER BY h
                               RANGE BETWEEN {BURST_TRAIL_H} PRECEDING
                                         AND 1 PRECEDING) AS BIGINT)
               AS trail_n
    FROM hourly
)
SELECT event_type, h, c, trail_c, trail_n
FROM w
WHERE trail_n >= 12 AND c * trail_n > {BURST_FACTOR} * trail_c
ORDER BY event_type, h
""",
    tags=("timeseries", "anomaly"),
)
def q_events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection: hours where a type's event count exceeds
    {BURST_FACTOR}× its trailing-{BURST_TRAIL_H}h average (needing ≥12
    trailing hours of baseline) — the ingestion-monitor alarm for a
    feed suddenly flooding the pipeline. The test is the exact integer
    cross-multiplication c·trail_n > {BURST_FACTOR}·trail_c — no float
    division, no boundary ambiguity.

    Shape at scale: one (type, hour) keyed agg collapses the event
    table to hour grain, then a RANGE window over the integer hour
    index runs per type on the HOURLY table (bounded per key, tiny) —
    never over raw events."""
    from data_ingestion_py_spark.functions.time import ts_us
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            (ts_us(F.col("ts")) / F.lit(3600000000))
            .cast("long")
            .alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-BURST_TRAIL_H, -1)
    )
    flagged = hourly.select(
        "event_type",
        "h",
        F.col("c").cast("long").alias("c"),
        F.sum("c").over(w).cast("long").alias("trail_c"),
        F.count(F.lit(1)).over(w).cast("long").alias("trail_n"),
    )
    return (
        flagged.where(
            (F.col("trail_n") >= 12)
            & (F.col("c") * F.col("trail_n") > BURST_FACTOR * F.col("trail_c"))
        )
        .orderBy("event_type", "h")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion (BM25 ⊕ embedding cosine)
# ---------------------------------------------------------------------------

RRF_K = 60  # Cormack/Clarke/Buettcher 2009 constant
RRF_LEG_K = 20  # per-leg shortlist depth
RRF_QUERY_VEC_ID = 0


def rrf_hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: tuple[str, ...],
    query_vec_id: int,
    leg_k: int = RRF_LEG_K,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank-fusion hybrid retrieval: fuse the BM25 lexical
    top-``leg_k`` with the embedding-cosine semantic top-``leg_k``
    (vectors keyed by ``vec_id == doc_id``, the repo's standing
    linkage), scoring each doc Σ_legs 1/(RRF_K + rank) — the standard
    combiner for hybrid search (Cormack et al. 2009; what
    Elasticsearch/Vespa/OpenSearch ship as "RRF"). The reference
    stores snippets for a retriever but has no ranking at all
    (data_ingestion.py:229-252); BM25 and cosine each exist here
    already — this is the production glue between them.

    Scale shape: each leg is the already-linted top-k pattern (BM25's
    keyed term aggs + TakeOrderedAndProject; cosine's broadcast query
    vector + narrow scan). Fusion then runs on two ≤leg_k-row
    shortlists: the row_number windows and the full-outer join touch
    ≤20 rows regardless of corpus size — nothing data-proportional
    happens after the legs' own top-k cuts.

    Determinism: ranks are integers, and the RRF score is computed in
    integer micro-units via truncating div (1000000 div (K + r)), so
    Spark and the DuckDB oracle agree bit-exactly; absent-leg ranks
    surface as 0 (never NULL) to keep the hash layer away from
    NaN-vs-None pandas mismatches."""
    from pyspark.sql.window import Window

    from data_ingestion_py_spark.operators.similarity import cosine_topk

    lex = bm25_topk(docs, query_terms, k=leg_k).select(
        "doc_id", "score_micro"
    )
    w_lex = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )
    sem = cosine_topk(embeddings, query_vec_id, k=leg_k)
    w_sem = Window.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    sem_r = sem.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_sem).alias("sem_rank"),
    )
    fused = (
        lex_r.join(sem_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("long").alias("sem_rank"),
        )
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (
                F.when(
                    F.col("lex_rank") > 0,
                    F.expr(f"1000000 div ({RRF_K} + lex_rank)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("sem_rank") > 0,
                    F.expr(f"1000000 div ({RRF_K} + sem_rank)"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(k)


def _rrf_oracle(
    query_terms: tuple[str, ...], query_vec_id: int, leg_k: int, k: int
) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH per_doc AS (
    SELECT doc_id, len(toks) AS dl,
           list_filter(toks, t -> list_contains([{terms_sql}], t)) AS qtoks
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), tfc AS (
    SELECT doc_id, dl, term, count(*) AS tf
    FROM (SELECT doc_id, dl, unnest(qtoks) AS term
          FROM per_doc WHERE len(qtoks) > 0)
    GROUP BY 1, 2, 3
), dfreq AS (
    SELECT term, count(*) AS df FROM tfc GROUP BY term
), stats AS (
    SELECT count(*) AS nd, sum(dl) AS sum_dl FROM per_doc
), bm25 AS (
    SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro
    FROM (
        SELECT doc_id,
               CAST(round(
                   ln(1.0 + (nd - df + 0.5) / (df + 0.5))
                   * (tf * ({BM25_K1} + 1.0))
                   / (tf + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * dl
                       / (CAST(sum_dl AS DOUBLE) / nd)))
                   * 1000000.0) AS BIGINT) AS s_micro
        FROM tfc JOIN dfreq USING (term), stats
    ) GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id ASC LIMIT {leg_k}
), lex_r AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_micro DESC, doc_id)
               AS lex_rank
    FROM bm25
), base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), q AS (
    SELECT v AS qvec FROM base WHERE vec_id = {query_vec_id}
), cos AS (
    SELECT c.vec_id,
           round(list_dot_product(c.v, q.qvec)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(q.qvec, q.qvec))), 6)
               AS cosine_sim
    FROM base c, q
    WHERE c.vec_id <> {query_vec_id}
    ORDER BY cosine_sim DESC, vec_id LIMIT {leg_k}
), sem_r AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY cosine_sim DESC, vec_id)
               AS sem_rank
    FROM cos
), fused AS (
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(COALESCE(s.sem_rank, 0) AS BIGINT) AS sem_rank
    FROM lex_r l FULL OUTER JOIN sem_r s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank,
       CAST((CASE WHEN lex_rank > 0
                  THEN 1000000 // ({RRF_K} + lex_rank) ELSE 0 END)
            + (CASE WHEN sem_rank > 0
                    THEN 1000000 // ({RRF_K} + sem_rank) ELSE 0 END)
            AS BIGINT) AS rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id ASC LIMIT {k}
"""


@register(
    "text_rrf_hybrid_search",
    _rrf_oracle(BM25_QUERY_TERMS, RRF_QUERY_VEC_ID, RRF_LEG_K, 10),
    tags=("text", "retrieval", "similarity"),
)
def q_text_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF top-10 fusing BM25 (fixed 3-term query) with cosine against
    vec_id=0 (see rrf_hybrid_search)."""
    return rrf_hybrid_search(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        BM25_QUERY_TERMS,
        RRF_QUERY_VEC_ID,
    )
