"""BM25 retrieval scoring — rank documents against a query set, fully
JVM-side.

The training-data-pipeline use cases: retrieval-based decontamination
(score corpus docs against benchmark prompts, drop high scorers — the
lexical complement of extras/text_analysis.decontaminate_overlap's exact
13-gram join), RAG corpus indexing, and topic-targeted subset selection
("give me the 1M docs that best match these seed queries").

Okapi BM25 with the Lucene non-negative idf:

    idf(t)      = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(q, d) = sum over distinct t in q of
                  idf(t) * tf_td * (k1 + 1) / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

Plan shape at 100 TB (linear, single lineage — the corpus subtree is
never computed twice, verified on the AQE-final plan):

    stats   one scan, NO Generate: N docs + avgdl from size(tokens)
            in-row; one-row agg, crossJoin(broadcast) — never a driver pull
    words   second scan -> explode -> inner broadcast-join against the
            distinct query-term set. The filter runs BEFORE any shuffle,
            so the heavy (doc, term) exchange carries only query-term
            occurrences — at a 100-term query set vs a 10^5-term corpus
            vocabulary this is the ~1000x shuffle-volume lever
    tf      groupBy (doc_id, term)            shuffle 1, map-side
            combined, keyed by the pair -> hot terms spread across docs
    df      count(*) over (partition by term) on the tf OUTPUT (docs-with-
            matches x query terms — the small derived table)  shuffle 2.
            A window, not a groupBy+self-join: branching tf into an agg
            and a join re-executes the whole scan->explode->shuffle
            subtree (Spark's ReuseExchange does NOT rescue it, measured on
            the AQE-final plan), while the window keeps lineage linear.
            df over the filtered stream equals df over the full corpus for
            every surviving term, so values are unchanged.
    join    per-(query, term) rows broadcast back on term
    score   groupBy (query_id, doc_id)        shuffle 3, bounded by
            |terms in q| rows per (q, d)

Scoring only touches docs containing >= 1 query term — the broadcast
equi-join IS the inverted-index probe, so corpus docs with no overlap
never leave their input partition.

The reference has no retrieval surface (it ranks alias candidates, not
documents); this is a beyond-reference training-pipeline operator like the
rest of extras/. Oracle: identical arithmetic in DuckDB (`bm25_score` in
__spark_entry__.py), ln/round cross-engine exact at 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spacy_ann_linker_spark.extras.text_analysis import _words


def _prep_toks(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared (doc_id, dl, toks) prepared frame for every scorer.

    The id column is aliased only when it actually renames: an identity
    Alias survives optimization in one Union branch but is stripped in the
    other after the union's expression-id dedup, and that one leftover
    Alias node alone defeats exchange reuse (sameResult is structural)
    between two scorers over the same corpus in one fused plan — which is
    exactly the rrf_fuse / ranking_metrics shape where the corpus
    tokenize -> explode -> posting-shuffle subtree should execute once."""
    did = F.col(id_col) if id_col == "doc_id" else F.col(id_col).alias("doc_id")
    return docs.select(did, _words(F.col(text_col)).alias("toks")).select(
        "doc_id", F.size("toks").alias("dl"), "toks"
    )


def bm25_score(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every (query, document) pair with BM25 over whitespace-lowered
    tokens. Returns (query_id, doc_id, n_matched_terms, score) for pairs
    sharing >= 1 term; zero-overlap pairs are absent by construction (their
    score is 0 and emitting |Q|x|D| rows would defeat the inverted index).

    `queries` is assumed broadcast-small (a benchmark suite, a seed set —
    thousands, not billions). Corpus statistics (df, N, avgdl) come from
    `docs` itself.
    """
    from pyspark.sql import Window

    toks = _prep_toks(docs, id_col, text_col)

    # corpus-level scalars: N docs and mean doc length, from size() in-row
    # — no explode on this branch. Tokenless docs count toward N/avgdl:
    # they are part of the corpus even though they can never match.
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").cast("double").alias("avgdl"),
    )

    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_words(F.col(query_text_col))).alias("term"),
        )
        .distinct()
        .withColumn("qweight", F.lit(1.0))
    )
    return _bm25_against_terms(toks, corpus, qterms, k1, b)


def _bm25_against_terms(
    toks: DataFrame, corpus: DataFrame, qterms: DataFrame, k1: float, b: float
) -> DataFrame:
    """BM25 core over an explicit weighted term set: qterms is
    (query_id, term, qweight) — plain queries use weight 1.0 (a *1.0 is
    IEEE-identity, so bm25_score's output is bit-unchanged by the weight
    machinery); PRF expansion terms enter with weight beta. toks/corpus are
    bm25_score's prepared (doc_id, dl, toks) and one-row stats frames."""
    from pyspark.sql import Window

    qset = qterms.select("term").distinct()

    # broadcast-filter BEFORE the shuffle: only query-term occurrences
    # reach the (doc, term) exchange
    words = toks.select("doc_id", "dl", F.explode("toks").alias("term")).join(
        F.broadcast(qset), "term"
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # df as a window over the tf output keeps lineage LINEAR (see module
    # docstring); equals full-corpus df for every term that survives the
    # query filter
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )

    scored = (
        tf.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "doc_id",
            (
                F.col("qweight")
                * F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("contrib"),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_matched_terms"),
        F.sum("contrib").alias("score"),
    )


def qlm_score(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    mu: float = 2000.0,
) -> DataFrame:
    """Query-likelihood unigram language model with Dirichlet smoothing
    (Zhai & Lafferty, SIGIR'01) — the second classic lexical retrieval
    family next to BM25, scoring log P(q|d) under a document LM smoothed
    by the corpus LM. Used in Zhai's rank-equivalent matched-terms-only
    form, which preserves the inverted-index shape:

        score(q, d) = sum over matched terms t of
                        qtf_t * ln(1 + tf_td / (mu * p(t|C)))
                      + |q| * ln(mu / (dl_d + mu))
        p(t|C) = cf_t / total_corpus_tokens

    Only the sum's first part needs (doc, term) rows; the second is a pure
    per-doc length normalizer — so, exactly like bm25_score, docs sharing
    zero query terms never leave their input partition and are absent from
    the output (their score is just the normalizer; emitting |Q|x|D| rows
    would defeat the index). cf over the query-filtered term stream equals
    full-corpus cf for every surviving term (the bm25 df discipline), and
    the same single-lineage window trick avoids re-executing the
    scan->explode->shuffle subtree. -> (query_id, doc_id, n_matched_terms,
    score); score is NEGATIVE (a log-probability), higher = better."""
    from pyspark.sql import Window

    toks = _prep_toks(docs, id_col, text_col)

    # corpus scalar: total token count, from size() in-row — no explode
    corpus = toks.agg(F.sum("dl").cast("double").alias("total_tokens"))

    qpairs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(_words(F.col(query_text_col))).alias("term"),
    )
    qterms = qpairs.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))
    qlens = qterms.groupBy("query_id").agg(F.sum("qtf").alias("qlen"))
    # qset derives through distinct (query_id, term) pairs — NOT through the
    # counted qterms — so its canonical plan matches bm25_score's qset
    # exactly. When both scorers run over the same docs/queries frames in
    # ONE fused query (rrf_fuse, ranking_metrics), the whole
    # scan -> tokenize -> explode -> broadcast-filter -> (doc_id, term)
    # exchange subtree then canonicalizes identically across the two
    # pipelines and executes ONCE via exchange/stage reuse, instead of the
    # corpus paying a second full scan + posting shuffle for the second
    # scorer. Values unchanged: the distinct term set is the same either way.
    qset = qpairs.distinct().select("term").distinct()

    words = toks.select("doc_id", "dl", F.explode("toks").alias("term")).join(
        F.broadcast(qset), "term"
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # corpus frequency as a window SUM over the tf output (linear lineage;
    # equals full-corpus cf for every term surviving the query filter)
    tf = tf.withColumn("cf", F.sum("tf").over(Window.partitionBy("term")))

    scored = (
        tf.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "doc_id",
            "dl",
            (
                F.col("qtf")
                * F.log(
                    F.lit(1.0)
                    + F.col("tf")
                    / (F.lit(mu) * F.col("cf") / F.col("total_tokens"))
                )
            ).alias("contrib"),
        )
    )
    return (
        scored.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.sum("contrib").alias("_match_part"),
            F.first("dl").alias("dl"),
        )
        .join(F.broadcast(qlens), "query_id")
        .select(
            "query_id",
            "doc_id",
            "n_matched_terms",
            (
                F.col("_match_part")
                + F.col("qlen") * F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))
            ).alias("score"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    score_round: int | None = None,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al., SIGIR'09): combine N
    retrieval rankings into one by summing 1/(k + rank) per (query, doc) —
    the standard score-free fusion for hybrid retrieval (BM25 + dense, BM25
    + QLM, ...), robust to incomparable score scales because only RANKS
    enter the sum. Docs missing from a system's list simply contribute
    nothing for that system (the conventional top-k treatment).

    Each input must have (query_id, doc_id, score). Ranks are per-system
    row_numbers ordered by score desc with doc_id asc tie-break — fully
    deterministic. `score_round` rounds scores BEFORE ranking: two engines
    (or two cluster runs) that agree on scores only to p decimals would
    otherwise flip ranks on sub-p noise; rounding makes the rank — and so
    the fused output — reproducible wherever the rounded scores are.

    Scale shape: one window per system (partitioned by query — queries are
    many, the state per query is the doc list), one union, one final
    groupBy(query, doc). Linear in the total ranked rows; no joins between
    systems. -> (query_id, doc_id, n_systems, rrf_score)."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    w = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("doc_id").asc()
    )
    ranked = []
    for r in rankings:
        s = F.round("score", score_round) if score_round is not None else F.col("score")
        ranked.append(
            r.select("query_id", "doc_id", s.alias("_s"))
            .withColumn("rank", F.row_number().over(w))
            .select("query_id", "doc_id", "rank")
        )
    allr = ranked[0]
    for r in ranked[1:]:
        allr = allr.unionByName(r)
    return allr.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_systems"),
        F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias("rrf_score"),
    )


def rocchio_prf_terms(
    docs: DataFrame,
    queries: DataFrame,
    fb_docs: int = 3,
    fb_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    round_scores: int = 6,
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (Rocchio 1971, the RM/
    axiomatic-QE shape): run first-pass BM25, take the `fb_docs` top-ranked
    documents per query as pseudo-relevant, score every term THEY contain
    by its summed BM25 contribution across the feedback set (idf x tf
    saturation — what the term would have scored had it been a query term),
    drop the query's own terms, keep the `fb_terms` best. These are the
    vocabulary-gap terms ("automobile" for a "car" query) that lexical
    retrieval misses by construction.

    Determinism (the rrf_fuse discipline): feedback docs rank on
    round(score, round_scores) with doc_id tie-break, expansion terms on
    rounded weight with term tie-break — so the selection reproduces
    exactly wherever p-dp scores do, cross-engine included.

    Plan shape: first-pass BM25 (3 linear shuffles, docs sharing no query
    term never move) + one corpus re-scan filtered by the broadcast
    feedback-doc id set (tiny: |Q| x fb_docs) for candidate tf, + one
    corpus re-scan filtered by the broadcast candidate-term set for true
    corpus df (the candidate df must be CORPUS df, not feedback-set df —
    feedback df would score stopwords high). Everything joins by
    broadcast of query-sized sides; the corpus is scanned, never shuffled
    whole. -> (query_id, term, weight, rank <= fb_terms)."""
    toks = _prep_toks(docs, id_col, text_col)
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").cast("double").alias("avgdl"),
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_words(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    return _rocchio_terms(toks, corpus, qterms, fb_docs, fb_terms, k1, b, round_scores)


def _rocchio_terms(
    toks: DataFrame,
    corpus: DataFrame,
    qterms: DataFrame,
    fb_docs: int,
    fb_terms: int,
    k1: float,
    b: float,
    round_scores: int,
    truncate: bool = False,
) -> DataFrame:
    """rocchio_prf_terms core over PREPARED (toks, corpus, qterms) frames —
    shared with bm25_prf_score so the tokenize/stats/query-term subtrees
    are built once per plan instead of once per phase (the first-pass BM25
    runs through _bm25_against_terms on the same frames; a *1.0 weight is
    IEEE-identity, so base scores are bit-identical to bm25_score).

    truncate=True eagerly localCheckpoints the two query-sized decision
    tables each referenced twice downstream — fb (|Q| x fb_docs rows, but
    its lineage is the whole first-pass BM25 + rank window) and cand
    (feedback-doc terms, carrying a corpus re-scan) — so neither subtree
    executes once per consumer. The guide's truncate-the-plan trade:
    tiny unreplicated checkpoint blocks (an executor loss re-runs the
    query) in exchange for not re-running a corpus pass per reference;
    default False keeps the function fully lazy."""
    from pyspark.sql import Window

    base = _bm25_against_terms(
        toks, corpus, qterms.withColumn("qweight", F.lit(1.0)), k1, b
    )
    w_fb = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", round_scores)), F.asc("doc_id")
    )
    fb = (
        base.withColumn("_r", F.row_number().over(w_fb))
        .filter(F.col("_r") <= fb_docs)
        .select("query_id", "doc_id")
    )
    if truncate:
        fb = fb.localCheckpoint(eager=True)

    # candidate (query, term, tf, dl) rows: corpus re-scan pruned by the
    # broadcast feedback-doc set
    fbtf = (
        toks.join(F.broadcast(fb.select("doc_id").distinct()), "doc_id")
        .select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    cand = (
        fb.join(fbtf, "doc_id")
        .join(qterms, ["query_id", "term"], "left_anti")
    )
    if truncate:
        cand = cand.localCheckpoint(eager=True)

    # TRUE corpus df for the candidate terms (one more pruned re-scan)
    cset = cand.select("term").distinct()
    cdf = (
        toks.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
        .join(F.broadcast(cset), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    weighted = (
        cand.join(F.broadcast(cdf), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("contrib"),
        )
        .groupBy("query_id", "term")
        .agg(F.sum("contrib").alias("weight"))
    )
    w_t = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("weight", round_scores)), F.asc("term")
    )
    return (
        weighted.withColumn("rank", F.row_number().over(w_t))
        .filter(F.col("rank") <= fb_terms)
        .select("query_id", "term", "weight", "rank")
    )


def bm25_prf_score(
    docs: DataFrame,
    queries: DataFrame,
    fb_docs: int = 3,
    fb_terms: int = 5,
    beta: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    round_scores: int = 6,
    truncate_plan: bool = False,
) -> DataFrame:
    """Second-pass BM25 with Rocchio expansion: original query terms keep
    weight 1, the fb_terms pseudo-feedback terms enter at weight `beta`
    (Rocchio's relevant-centroid coefficient), and every document is
    rescored against the expanded weighted term set — documents matching
    only expansion vocabulary now surface (the recall the first pass
    cannot have). Expansion terms are query-term-disjoint by construction,
    so the weighted union is collision-free.

    truncate_plan=True eagerly localCheckpoints the query-sized decision
    tables (feedback docs + candidate terms inside the Rocchio pass, and
    the |Q| x fb_terms expansion table itself, which the second pass
    references twice): the whole first-pass/expansion machinery then
    executes exactly once instead of once per downstream reference
    (measured ~25% off the operator at sf0.1). Identical rows either way;
    default False keeps full laziness (checkpoint blocks are unreplicated
    — the cc.py caveat — and the tables are query-sized, so re-running on
    executor loss is cheap).
    -> (query_id, doc_id, n_matched_terms, score) over the expanded set."""
    toks = _prep_toks(docs, id_col, text_col)
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").cast("double").alias("avgdl"),
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_words(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    orig = qterms.withColumn("qweight", F.lit(1.0))
    # expansion terms from the SAME prepared toks/corpus/qterms frames —
    # the former call back through rocchio_prf_terms(docs, queries)
    # re-derived all three (and its internal first pass re-derived them
    # again via bm25_score), multiplying the tokenize subtree through the
    # plan ~8x
    exp = _rocchio_terms(
        toks, corpus, qterms, fb_docs, fb_terms, k1, b, round_scores,
        truncate=truncate_plan,
    ).select("query_id", "term", F.lit(float(beta)).alias("qweight"))
    if truncate_plan:
        exp = exp.localCheckpoint(eager=True)
    return _bm25_against_terms(toks, corpus, orig.unionByName(exp), k1, b)
