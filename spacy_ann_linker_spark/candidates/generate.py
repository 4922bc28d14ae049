"""Candidate generation — the Spark replacement for the nmslib HNSW k-NN
(reference candidate_generator.py:100-161,228-275; SURVEY.md J1-J4, T1, U1).

Instead of a driver-local graph index, candidates come from a distributed
sparse cosine join over the char_wb TF-IDF long-form vectors:

    sim(text, alias) = SUM over shared ngram idx of w_text * w_alias

Both sides are L2-normalized, so the grouped sum IS the exact cosine — this
is brute-force-exact over every pair sharing at least one vocabulary ngram
(pairs sharing none have cosine 0 and can never clear any threshold), i.e.
strictly better recall than HNSW at any efSearch. Physically it is an
inverted-index equi-join on `idx` + partial-aggregating groupBy: both are
shuffle-partitioned on key, map-side combined, AQE-skew-handled — the shape
that survives a 1000-executor 100 TB run.

Reference behaviors preserved:
  * J4 short-alias bypass: mention text exactly in short_aliases -> single
    candidate (alias=text, similarity=1.0), similarity search skipped
    entirely ("bypass replaces", candidate_generator.py:257-259)
  * J3 similarity = cosine (nmslib 1.0 - cosine-distance, :266-271)
  * T1 top-k, k=5 default (:37), ordered by similarity desc; ties broken by
    alias asc for determinism (nmslib tie order is unspecified). The order
    compares `tie_key(similarity)`, not the raw double: the cosine is a sum
    whose last bit follows the summation order, i.e. the partitioning, so
    mathematically equal cosines (word permutations of one alias share one
    char_wb gram set) would otherwise rank by the physical plan
  * J5 exact-alias fast path (ann_kb.py:244-259) as an opt-in flag: at scale
    most mentions are verbatim aliases and skip the expensive join
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spacy_ann_linker_spark.kb.build import KnowledgeBase
from spacy_ann_linker_spark.vectorize import tfidf
from spacy_ann_linker_spark.vectorize.tfidf import TfidfModel

DEFAULT_K = 5  # candidate_generator.py:37; AnnKnowledgeBase uses k=1 (ann_kb.py:24)
TIE_DIGITS = 12  # summation-order noise is ~1e-16; cosines are in [0, 1]
# blocked path (_sims_blocked): 24 minhashes in 12 bands of 2 rows, and
# sorted-neighborhood blocks on a 3-char lowercase prefix
LSH_NUM_HASHES = 24
LSH_BANDS = 12
PREFIX_LEN = 3


def tie_key():
    """The similarity as the candidate order sees it: rounded, so cosines
    equal up to summation-order noise tie and fall through to alias asc.
    The emitted `similarity` column stays raw."""
    return F.round(F.col("similarity"), TIE_DIGITS)


@dataclass
class CandidateModel:
    """Fitted candidate-generation state: vocab + alias vectors + bypass set.

    Replaces the reference's serialized (TfidfVectorizer, csr_matrix, HNSW
    index) triple (candidate_generator.py:284-346) with three DataFrames, each
    checkpointable to a table."""

    tfidf: TfidfModel
    alias_vectors: DataFrame  # (alias, idx, weight) L2-normalized long form
    short_aliases: DataFrame  # (alias)
    aliases: DataFrame  # (alias) distinct fit corpus
    # per-(num_hashes, bands) cache of the STATIC alias-side MinHash band
    # keys (candidates/blocking.py): the alias table does not change between
    # link calls, so the signature groupBys run once per model, not once per
    # batch — the serve loop and streaming foreachBatch hit this every
    # micro-batch. Persisted DataFrames, released with the model.
    _alias_lsh_cache: dict = field(default_factory=dict, repr=False, compare=False)

    def alias_band_keys(self, num_hashes: int, bands: int) -> DataFrame:
        from spacy_ann_linker_spark.candidates.blocking import minhash_band_keys

        key = (num_hashes, bands)
        if key not in self._alias_lsh_cache:
            self._alias_lsh_cache[key] = minhash_band_keys(
                self.aliases, "alias", num_hashes, bands
            ).persist()
        return self._alias_lsh_cache[key]

    def save(self, path: str) -> None:
        self.tfidf.save(f"{path}/vocab")
        self.alias_vectors.write.mode("overwrite").parquet(f"{path}/alias_vectors")
        self.short_aliases.write.mode("overwrite").parquet(f"{path}/short_aliases")
        self.aliases.write.mode("overwrite").parquet(f"{path}/aliases")

    @staticmethod
    def load(spark, path: str) -> "CandidateModel":
        return CandidateModel(
            tfidf=TfidfModel.load(spark, f"{path}/vocab"),
            alias_vectors=spark.read.parquet(f"{path}/alias_vectors"),
            short_aliases=spark.read.parquet(f"{path}/short_aliases"),
            aliases=spark.read.parquet(f"{path}/aliases"),
        )


def fit_candidate_model(kb: KnowledgeBase, min_df: int = 2) -> CandidateModel:
    """Fit TF-IDF over ALL alias strings (short ones included — the reference
    fits on the full list, candidate_generator.py:119-127; short aliases
    additionally populate the bypass set)."""
    aliases = kb.aliases()
    model = tfidf.fit(aliases, id_col="alias", text_col="alias", min_df=min_df)
    alias_vectors = tfidf.transform(model, aliases, "alias", "alias")
    return CandidateModel(
        tfidf=model,
        alias_vectors=alias_vectors,
        short_aliases=kb.short_aliases,
        aliases=aliases,
    )


def _sims_exact(model: CandidateModel, rest: DataFrame, max_gram_df: int | None = None) -> DataFrame:
    """J2 similarity join: inverted-index sparse matmul, exact cosine.

    max_gram_df (off by default) bounds the posting list of pathologically
    hot ngrams (" a ", "ing"): grams with df > cap are pruned from BOTH join
    sides, so no single gram can quadratically multiply the join. Similarity
    becomes a (tight) lower bound — hot grams carry the minimum idf weight —
    and the knob trades that recall sliver for a bounded worst case at
    10^12-mention scale."""
    mvecs = tfidf.transform(model.tfidf, rest, "text", "text").withColumnRenamed(
        "weight", "w_m"
    )
    avecs = model.alias_vectors.withColumnRenamed("weight", "w_a")
    if max_gram_df is not None:
        hot = model.tfidf.vocab.filter(F.col("df") > max_gram_df).select("idx")
        mvecs = mvecs.join(F.broadcast(hot), "idx", "left_anti")
        avecs = avecs.join(F.broadcast(hot), "idx", "left_anti")
    return (
        mvecs.join(avecs, "idx")
        .groupBy("text", "alias")
        .agg(F.sum(F.col("w_m") * F.col("w_a")).alias("similarity"))
    )


def _sims_blocked(model: CandidateModel, rest: DataFrame) -> DataFrame:
    """Blocked similarity: exact cosine scored ONLY on MinHash-LSH ∪
    sorted-neighborhood candidate pairs (candidates/blocking.py) — the path
    whose cost is linear in corpus + bucket collisions, never all-pairs and
    never hot-gram-quadratic. Recall < 1 by construction, validated
    against the exact join in tests."""
    from spacy_ann_linker_spark.candidates.blocking import (
        lsh_pairs,
        sorted_neighborhood_pairs,
    )

    # both block sources emit their raw candidate multisets and the union
    # pays ONE distinct — the per-source distincts were two extra
    # full exchanges of the pair stream for a set the final distinct
    # recomputes anyway
    pairs = (
        lsh_pairs(
            rest,
            num_hashes=LSH_NUM_HASHES,
            bands=LSH_BANDS,
            alias_keys=model.alias_band_keys(LSH_NUM_HASHES, LSH_BANDS),
            dedup=False,
        )
        .unionByName(
            sorted_neighborhood_pairs(rest, model.aliases, PREFIX_LEN, dedup=False)
        )
        .distinct()
    )
    mvecs = tfidf.transform(model.tfidf, rest, "text", "text").withColumnRenamed(
        "weight", "w_m"
    )
    avecs = model.alias_vectors.withColumnRenamed("weight", "w_a")
    return (
        pairs.join(mvecs, "text")
        .join(avecs, ["alias", "idx"])
        .groupBy("text", "alias")
        .agg(F.sum(F.col("w_m") * F.col("w_a")).alias("similarity"))
    )


def _candidate_branches(
    model: CandidateModel,
    texts: DataFrame,
    exact_fast_path: bool,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
    broadcast_kb: bool = True,
    memo_checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None, DataFrame]:
    """Shared branch plumbing: (distinct-texts memo, short-bypass rows,
    exact-fast-path rows or None, raw similarity rows). Branches are
    disjoint by text (each anti-join removes the previous branch's
    population — U1 "bypass replaces" semantics,
    candidate_generator.py:253-275)."""
    # distinct mention strings feed three branches (short join, anti-join,
    # vectorize) — materialize eagerly: a lazy persist is populated mid-job,
    # so concurrent consumers in the same query would each recompute the
    # dedup shuffle (measured 2-3x recompute). Cut like every link memo
    # (see link/linker.py:_materialize_memo) and registered for release.
    from spacy_ann_linker_spark.link.linker import _materialize_memo

    texts = _materialize_memo(texts.select("text").distinct(), reliable_dir=memo_checkpoint_dir)

    # J4 short-alias bypass (exact, case-sensitive, total)
    short_df = model.short_aliases
    short = (
        texts.join(short_df, texts.text == short_df["alias"], "inner")
        .select("text", "alias", F.lit(1.0).alias("similarity"))
    )
    rest = texts.join(short_df, texts.text == short_df["alias"], "left_anti")

    exact = None
    if exact_fast_path:
        # J5: verbatim (case-folded) alias hits are cosine-1.0 by construction;
        # answer them with a broadcast join and keep them out of the big join.
        # broadcast_kb=False (the 100M-alias gazetteer regime, where a full
        # alias broadcast OOMs driver + executors) runs the same two joins
        # as shuffles instead: the key is the full case-folded string —
        # near-unique on both sides (mentions arrive deduped, the alias
        # table is distinct), so there is no hot key to salt and AQE sizes
        # the exchange.
        alias_lower = model.aliases.withColumn("_al", F.lower("alias"))
        _bc = F.broadcast if broadcast_kb else (lambda df: df)
        exact = (
            rest.withColumn("_tl", F.lower("text"))
            .join(_bc(alias_lower), F.col("_tl") == F.col("_al"), "inner")
            .select("text", "alias", F.lit(1.0).alias("similarity"))
        )
        # anti-join against the SAME alias_lower relation as the inner join
        # above (duplicates on the right of a left_anti are irrelevant): the
        # two broadcast subtrees then canonicalize identically, so one
        # broadcast build is reused instead of a second distinct+broadcast
        # job per link call.
        rest = (
            rest.withColumn("_tl", F.lower("text"))
            .join(_bc(alias_lower), F.col("_tl") == F.col("_al"), "left_anti")
            .drop("_tl")
        )

    sims = (
        _sims_blocked(model, rest)
        if use_blocking
        else _sims_exact(model, rest, max_gram_df=max_gram_df)
    )
    return texts, short, exact, sims


def generate_candidates(
    model: CandidateModel,
    texts: DataFrame,
    k: int = DEFAULT_K,
    exact_fast_path: bool = False,
) -> DataFrame:
    """texts(text) [distinct mention strings] ->
    candidates(text, alias, similarity, rank).

    Callers dedupe mention strings first (pipeline does) — the Spark analog
    of the reference's mention->alias memo table (ann_linker.py:94-97): each
    distinct string is scored once no matter how many billions of turns
    repeat it."""
    _, short, exact, sims = _candidate_branches(model, texts, exact_fast_path)
    w = Window.partitionBy("text").orderBy(tie_key().desc(), F.asc("alias"))
    topk = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
    )
    out = short.withColumn("rank", F.lit(1))
    if exact is not None:
        out = out.unionByName(exact.withColumn("rank", F.lit(1)))
    return out.unionByName(topk)


def generate_best_candidates(
    model: CandidateModel,
    texts: DataFrame,
    exact_fast_path: bool = False,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
    broadcast_kb: bool = True,
) -> DataFrame:
    """texts -> (text, alias, similarity): the single best candidate per
    mention string, computed with hash aggregations (min_by over an ordering
    struct) instead of a sort window. Equivalent to
    generate_candidates(...).rank==1 for ANY k (the global argmax is always
    inside the top-k), so the linking path (T2 picks only
    alias_candidates[0], ann_linker.py:97) never pays the top-k sort.

    use_blocking routes the similarity branch through the LSH + sorted-
    neighborhood pair join (bounded at any scale); max_gram_df caps hot-gram
    posting lists on the exact join. Both default off = reference-exact."""
    _, short, exact, sims = _candidate_branches(
        model,
        texts,
        exact_fast_path,
        use_blocking=use_blocking,
        max_gram_df=max_gram_df,
        broadcast_kb=broadcast_kb,
    )
    return _best_of_branches(short, exact, sims)


def _best_of_branches(
    short: DataFrame, exact: DataFrame | None, sims: DataFrame
) -> DataFrame:
    """The per-text argmax over _candidate_branches' disjoint branches."""
    best_sim = (
        sims.groupBy("text")
        .agg(
            F.min_by(
                F.struct("alias", "similarity"),
                F.struct((-tie_key()).alias("s"), F.col("alias").alias("a")),
            ).alias("_b")
        )
        .select("text", F.col("_b.alias").alias("alias"), F.col("_b.similarity").alias("similarity"))
    )
    out = short
    if exact is not None:
        best_exact = (
            exact.groupBy("text")
            .agg(F.min("alias").alias("alias"))
            .withColumn("similarity", F.lit(1.0))
            .select("text", "alias", "similarity")
        )
        out = out.unionByName(best_exact)
    return out.unionByName(best_sim)
