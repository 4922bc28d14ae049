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
    entirely ("bypass replaces", candidate_generator.py:257-259) — resolved
    inside the mention memo (_resolved_mentions)
  * J3 similarity = cosine (nmslib 1.0 - cosine-distance, :266-271)
  * T1 top-k, k=5 default (:37), ordered by similarity desc; ties broken by
    alias asc for determinism (nmslib tie order is unspecified). The order
    compares `tie_key(similarity)`, not the raw double: the cosine is a sum
    whose last bit follows the summation order, i.e. the partitioning, so
    mathematically equal cosines (word permutations of one alias share one
    char_wb gram set) would otherwise rank by the physical plan
  * J5 exact-alias fast path (ann_kb.py:244-259) as an opt-in flag: at scale
    most mentions are verbatim aliases and skip the expensive join. It is
    resolved in the same memo (the least alias of a case-folded hit, 1.0);
    the TF-IDF transform and the join are built only over the texts neither
    J4 nor J5 resolves, and not at all when every text resolves
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
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
    # cache of STATIC alias-side tables: the MinHash band keys per
    # (num_hashes, bands) (candidates/blocking.py) and the J5 case-fold
    # table. The alias table does not change between link calls, so their
    # groupBys run once per model, not once per batch — the serve loop and
    # streaming foreachBatch hit this every micro-batch. Persisted
    # DataFrames, released with the model.
    _alias_cache: dict = field(default_factory=dict, repr=False, compare=False)

    def alias_band_keys(self, num_hashes: int, bands: int) -> DataFrame:
        from spacy_ann_linker_spark.candidates.blocking import minhash_band_keys

        key = (num_hashes, bands)
        if key not in self._alias_cache:
            self._alias_cache[key] = minhash_band_keys(
                self.aliases, "alias", num_hashes, bands
            ).persist()
        return self._alias_cache[key]

    def folded_aliases(self) -> DataFrame:
        """J5's case-fold table `(_al = lower(alias), _exact = least alias)`,
        built and persisted once per model, like alias_band_keys."""
        if "folded" not in self._alias_cache:
            self._alias_cache["folded"] = (
                self.aliases.groupBy(F.lower("alias").alias("_al"))
                .agg(F.min("alias").alias("_exact"))
                .persist()
            )
        return self._alias_cache["folded"]

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


def _resolved_mentions(
    model: CandidateModel,
    mentions: DataFrame,
    exact_fast_path: bool,
    broadcast_kb: bool = True,
    memo_checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int, int]:
    """The mention memo with J4 and J5 answered inside it ->
    (memo(mention columns..., alias, similarity), rows, unresolved rows).

    Each row (a mention, or a distinct text when the caller dedupes first)
    is left-joined to the short-alias set (J4, alias = the text itself)
    and, with exact_fast_path, to the model's case-fold table
    `lower(alias) -> min(alias)` (J5, a case-folded verbatim hit). The
    short alias wins, either gives similarity 1.0, and a row neither
    resolves keeps NULL alias and similarity: only the distinct texts of
    those rows reach the similarity join ("bypass replaces",
    candidate_generator.py:253-275). The memo is materialized eagerly and
    cut like every link memo (see link/linker.py:_materialize_memo); its
    own action also observes the unresolved count, so callers decide which
    later stages to build without another job.

    broadcast_kb=False (the 100M-alias gazetteer regime, where a full alias
    broadcast OOMs driver and executors) runs the J5 join as a shuffle: the
    key is the full case-folded string, near-unique on the alias side, so
    there is no hot key to salt and AQE sizes the exchange."""
    from spacy_ann_linker_spark.link.linker import _materialize_memo

    short = model.short_aliases.select(F.col("alias").alias("_short"))
    memo = mentions.join(short, F.col("text") == F.col("_short"), "left")
    alias = F.col("_short")
    if exact_fast_path:
        folded = model.folded_aliases()
        memo = memo.join(
            F.broadcast(folded) if broadcast_kb else folded,
            F.lower("text") == F.col("_al"),
            "left",
        )
        alias = F.coalesce(alias, F.col("_exact"))
    unresolved = Observation()
    memo = memo.select(
        *mentions.columns,
        alias.alias("alias"),
        F.when(alias.isNotNull(), F.lit(1.0)).alias("similarity"),
    ).observe(unresolved, F.count_if(F.col("alias").isNull()).alias("n"))
    memo, n_rows = _materialize_memo(memo, reliable_dir=memo_checkpoint_dir)
    return memo, n_rows, unresolved.get["n"]


def _similarities(
    model: CandidateModel,
    texts: DataFrame,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Raw similarity rows (text, alias, similarity) for distinct texts:
    the exact sparse join, or the blocked one."""
    if use_blocking:
        return _sims_blocked(model, texts)
    return _sims_exact(model, texts, max_gram_df=max_gram_df)


def _best_unresolved(
    model: CandidateModel,
    memo: DataFrame,
    threshold: float | None = None,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
) -> DataFrame:
    """(text, alias, similarity): one row per distinct text the memo left
    unresolved, with its argmax alias (highest tie_key, then alias asc; a
    hash aggregation, min_by over an ordering struct, instead of a sort
    window), or NULL alias and similarity when no candidate survives.

    Each distinct text is scored once: the similarity join runs over the
    unresolved texts made distinct, and the unresolved rows themselves join
    the argmax's groupBy as NULL candidates, so every text gets its row
    from that one exchange. With a threshold, only rows whose tie_key is at
    least the rounded threshold reach the argmax, and the argmax keeps its
    alias only when the raw similarity is strictly above the threshold.
    Rounding is monotone, so a row cut early could never win and pass the
    strict `>` — also when a tie at TIE_DIGITS straddles the threshold, where
    the argmax picks the lower alias and a raw `>` pre-filter would not."""
    unresolved = memo.filter(F.col("alias").isNull()).select("text")
    sims = _similarities(model, unresolved.distinct(), use_blocking, max_gram_df)
    if threshold is not None:
        sims = sims.filter(tie_key() >= F.round(F.lit(threshold), TIE_DIGITS))
    none = unresolved.select(
        "text",
        F.lit(None).cast("string").alias("alias"),
        F.lit(None).cast("double").alias("similarity"),
    )
    best = (
        sims.unionByName(none)
        .groupBy("text")
        .agg(
            F.min_by(
                F.struct("alias", "similarity"),
                F.struct(
                    F.col("alias").isNull().alias("u"),
                    (-tie_key()).alias("s"),
                    F.col("alias").alias("a"),
                ),
            ).alias("_b")
        )
        .select("text", F.col("_b.alias").alias("alias"), F.col("_b.similarity").alias("similarity"))
    )
    if threshold is None:
        return best
    keep = F.col("similarity") > F.lit(threshold)
    return best.select(
        "text",
        F.when(keep, F.col("alias")).alias("alias"),
        F.when(keep, F.col("similarity")).alias("similarity"),
    )


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
    memo, _, n_unresolved = _resolved_mentions(
        model, texts.select("text").distinct(), exact_fast_path
    )
    out = memo.filter(F.col("alias").isNotNull()).withColumn("rank", F.lit(1))
    if exact_fast_path:
        # the memo keeps the least alias of a case-folded J5 hit; the top-k
        # list keeps every alias of that fold at rank 1
        short = model.short_aliases.select(F.col("alias").alias("text"))
        folded = model.aliases.select(F.col("alias").alias("_a"), F.lower("alias").alias("_al"))
        out = out.join(short, "text", "left_semi").unionByName(
            out.join(short, "text", "left_anti")
            .join(folded, F.lower("text") == F.col("_al"))
            .select("text", F.col("_a").alias("alias"), "similarity", "rank")
        )
    if not n_unresolved:
        return out
    w = Window.partitionBy("text").orderBy(tie_key().desc(), F.asc("alias"))
    topk = (
        _similarities(model, memo.filter(F.col("alias").isNull()).select("text"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
    )
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
    memo, _, n_unresolved = _resolved_mentions(
        model, texts.select("text").distinct(), exact_fast_path, broadcast_kb=broadcast_kb
    )
    best = memo.filter(F.col("alias").isNotNull())
    if n_unresolved:
        best = best.unionByName(
            _best_unresolved(model, memo, use_blocking=use_blocking, max_gram_df=max_gram_df)
            .filter(F.col("alias").isNotNull())
        )
    return best
