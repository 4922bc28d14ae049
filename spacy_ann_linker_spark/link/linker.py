"""Linking stage — the Spark re-expression of `AnnLinker.__call__`
(reference ann_linker.py:63-123; SURVEY.md §3.2, F4, J6-J8, T2-T3).

One declarative lineage per batch of mentions:

    mentions --dedup text--> candidates --sim > threshold--> best alias
             --alias_map join--> entity candidates
             --context cosine--> argmax --> links

Reference behaviors preserved:
  * F4 strict `>` threshold, default 0.7 (ann_linker.py:49,81-83)
  * F5 no_description_threshold is DEAD CODE in the reference (a list
    comprehension whose result is discarded, ann_linker.py:84-88) — kept as a
    config knob, no operator
  * J8 mention->best-alias memo (`mentions_to_alias_cand`, ann_linker.py:94-97)
    = the `mention_alias_map` DataFrame returned by `best_aliases`
  * J7/T3 disambiguation: cosine(entity_vector, context_vector) with +1e-8
    denominator guard (ann_linker.py:102-110), argmax with first-max-wins on
    ties = KB insertion order (np.argmax, :119) -> (desc(sim), asc(ent_pos))
  * disambiguate=False annotates candidates but sets no kb id (:99)
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spacy_ann_linker_spark.candidates.generate import (
    CandidateModel,
    _best_of_branches,
    _candidate_branches,
)
from spacy_ann_linker_spark.kb.build import KnowledgeBase
from spacy_ann_linker_spark.link.embedding import (
    dot_product,
    mean_pool_udf,
    with_vector_norm,
)

DEFAULT_THRESHOLD = 0.7  # ann_linker.py:49

# memo tables (mention_alias_map and the pre-rescue candidate set) registered
# here so long-running callers (the serve loop, streaming foreachBatch) can
# drop references after each request instead of waiting for driver GC +
# ContextCleaner. Registration is SCOPED when a memo_scope() is active:
# concurrent callers on one driver (ThreadingHTTPServer /link handlers, a
# streaming micro-batch racing a serve request) must each release only their
# own memos — a process-global release from one thread's finally block would
# unpersist memos another in-flight request is still joining against,
# forcing the exact candidate-join recompute the eager persist exists to
# avoid (measured ~3x wall). Contextvars give each thread (handler threads
# start with a fresh Context) its own scope; the module-global list remains
# the single-caller default so batch scripts need no ceremony.
_PERSISTED_MEMOS: list = []
_MEMO_SCOPE: contextvars.ContextVar = contextvars.ContextVar(
    "spacy_ann_memo_scope", default=None
)


def _register_memo(df: DataFrame) -> DataFrame:
    scope = _MEMO_SCOPE.get()
    (_PERSISTED_MEMOS if scope is None else scope).append(df)
    return df


def _rm_fs_dir(spark, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FileSystem API, so
    reliable-memo dirs on any scheme (local, hdfs://, s3a://) are GC'd."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Exception:
        pass


def _release_list(memos: list) -> int:
    n = 0
    while memos:
        df = memos.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
        # the localCheckpoint blocks under the cache layer: unpersisting the
        # DataFrame frees only the InMemoryRelation, and the checkpoint RDD
        # otherwise waits for driver GC + ContextCleaner — one leaked RDD
        # per memo per serve request / stream micro-batch
        rdd = getattr(df, "_memo_checkpoint_rdd", None)
        if rdd is not None:
            try:
                rdd.unpersist(False)
            except Exception:
                pass
        # reliable (parquet-backed) memos: delete the backing directory —
        # long-running serve loops / streaming foreachBatch otherwise grow
        # memo_checkpoint_dir unboundedly (one memo_<uuid> dir per memo per
        # request). Release already requires the linking output to be
        # materialized, so nothing can re-scan the files afterwards.
        path = getattr(df, "_memo_parquet_path", None)
        if path is not None:
            _rm_fs_dir(df.sparkSession, path)
    return n


@contextmanager
def memo_scope():
    """Scope memo registration to this call: every memo table persisted
    inside the block is released on exit, and ONLY those — safe under
    concurrent /link requests and streaming micro-batches sharing one
    driver. Release happens after the block, so materialize (collect/write)
    the linking output inside it."""
    token = _MEMO_SCOPE.set([])
    try:
        yield
    finally:
        memos = _MEMO_SCOPE.get()
        _MEMO_SCOPE.reset(token)
        _release_list(memos)


def _materialize_memo(
    df: DataFrame, truncate: bool, reliable_dir: str | None = None
) -> DataFrame:
    """Materialize a memo table eagerly and cut its lineage.

    Every link memo (distinct mention texts, the pre-rescue best aliases,
    mention_alias_map) comes through here with truncate=True: an eager
    localCheckpoint, then persist()+count() on top. The InMemoryRelation
    layered over the checkpoint scan restores size stats and columnar scans
    (a bare LogicalRDD reports unknown size — measured +45 CPU-s from lost
    broadcast decisions).

    Why every memo is cut: an uncut cached memo embeds the plan of the memo
    before it, so the link output's plan nests one copy of each upstream
    memo plan inside the next. AQE re-renders that whole description after
    every query stage (AdaptiveSparkPlanExec.onUpdatePlan ->
    QueryExecution.explainString) and posts it to the listener bus, which
    keeps it. On perfbench's 4,000-turn transcripts input the output plan's
    formatted description was 8.57 M characters with 2,164 InMemoryRelations
    (5.88 M / 1,243 on kb_scale), and 11 of 24 jstack samples of a warm link
    call caught the driver in explainString. Cut, it is 123 k / 32 (68 k /
    15). The deep blocked plan (LSH pair join x sorted-neighborhood x rescue,
    each wrapping its own finished AQE subtree) additionally serialized into
    every downstream task binary: ~0.5 s/task of deserialization and
    >100 s/stage of GC, a 20-70 s link with huge variance, stable at ~12 s
    once cut. The checkpoint pass adds 2-3 Spark jobs per memo, far less
    than the rendering it saves: first link call on a 4-core VM, medians of
    10 interleaved pairs, 130 -> 200 turns/s and 36 -> 22 CPU-s (kb_scale),
    263 -> 504 turns/s and 48 -> 26 CPU-s (transcripts).

    truncate=False (persist()+count() only) is the opt-out behind
    `truncate_memos=False`; it keeps the nested plans.

    reliable_dir: when set, the memo is WRITTEN to parquet under a unique
    subdirectory and read back instead of localCheckpoint — lineage is cut
    the same way, but the materialized bytes live in the (replicated /
    re-readable) filesystem rather than unreplicated executor block storage,
    so an executor loss recomputes from the files instead of failing the
    query. Costs one write+read round trip per memo; memos are
    distinct-mention-sized, so at 1000-executor scale this is the safe
    default and localCheckpoint is the latency optimization (the same swap
    point plans/checkpoint.py documents for Iceberg).

    release_memos()/memo_scope() exit frees everything a memo holds: the
    cache, the checkpoint blocks and the parquet dir (request-scoped scratch
    — long-running serve loops must not grow it). A released memo must not
    be re-executed."""
    memo_path = checkpoint_rdd = None
    if reliable_dir is not None:
        import uuid

        memo_path = f"{reliable_dir.rstrip('/')}/memo_{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(memo_path)
        df = df.sparkSession.read.parquet(memo_path)
    elif truncate:
        df = df.localCheckpoint(eager=True)
        # the LogicalRDD's RDD holds the checkpoint blocks
        checkpoint_rdd = df._jdf.queryExecution().analyzed().rdd()
    out = df.persist()
    out.count()
    # remembered so release_memos/memo_scope exit frees them — memos are
    # per-request scratch, not caller-owned output
    out._memo_parquet_path = memo_path
    out._memo_checkpoint_rdd = checkpoint_rdd
    return _register_memo(out)


def release_memos() -> int:
    """Release every memo table registered since the last release: unpersist
    the cache, free the checkpoint blocks and delete reliable memo dirs.
    Safe to call any time AFTER the linking output
    has been materialized (collect/write); returns the number released.
    Inside a memo_scope() this releases the scope's own memos only (the
    scope also auto-releases on exit, so explicit calls there are
    optional)."""
    scope = _MEMO_SCOPE.get()
    return _release_list(_PERSISTED_MEMOS if scope is None else scope)


def best_aliases(
    model: CandidateModel,
    texts: DataFrame,
    k: int = 5,
    threshold: float = DEFAULT_THRESHOLD,
    exact_fast_path: bool = False,
    fuzzy_rescue: bool = False,
    jw_threshold: float = 0.88,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
    broadcast_rescue_aliases: bool = True,
    rescue_salt_buckets: int = 16,
    truncate_memos: bool | None = None,
    broadcast_exact_aliases: bool = True,
    memo_checkpoint_dir: str | None = None,
) -> DataFrame:
    """(text, alias, similarity) — best surviving alias per distinct mention
    string (T2: `alias_candidates[0]` after the strict-> threshold filter).
    This IS the mention_alias_map memo table (J8).

    fuzzy_rescue (off for reference parity, on in the production pipeline):
    mention strings whose every cosine candidate fell below `threshold` get a
    second chance via Jaro-Winkler against blocking-key-compatible aliases
    (same first lowercase character, |length delta| <= 4) — the north_star's
    JW/Levenshtein scoring stage. Char-level edits destroy most of a short
    word's 3-grams (cosine collapses) while JW degrades gracefully.

    broadcast_rescue_aliases: True (default) broadcasts the alias block
    table — right for KB-sized alias sets, a hard OOM at a 100M-alias
    gazetteer. False runs a SALTED shuffle join instead: the first-character
    block key has only ~|alphabet| distinct values, so without salting every
    's...' alias lands on one reducer; aliases pick a deterministic salt
    from their own string, unmatched mentions replicate across all
    `rescue_salt_buckets` (identical result set, verified in tests).

    broadcast_exact_aliases: same knob for the J5 exact-fast-path alias
    table (generate.py _candidate_branches) — False switches the verbatim
    lookup to shuffle joins for gazetteers too big to broadcast.

    truncate_memos: None (default) or True cuts the pre-rescue memo's
    lineage; False keeps it (see link_mentions)."""
    # generate_best_candidates, inlined to keep its distinct-texts memo: the
    # rescue below anti-joins against that memo instead of re-running the
    # mention source (a cut memo is a checkpoint scan, so Spark's cache
    # substitution cannot map a recomputed distinct onto it). Global argmax
    # == rank-1 of top-k for any k, so the linking path skips the top-k sort
    # window entirely (hash aggregations only); strict > threshold applied
    # after, same as filtering the k-list then taking [0]. use_blocking /
    # max_gram_df (both off = reference-exact) bound the similarity join at
    # scale: LSH+prefix pair blocking, or hot-gram df-cap.
    texts, short, exact, sims = _candidate_branches(
        model,
        texts,
        exact_fast_path,
        use_blocking=use_blocking,
        max_gram_df=max_gram_df,
        broadcast_exact_aliases=broadcast_exact_aliases,
        memo_checkpoint_dir=memo_checkpoint_dir,
    )
    best = _best_of_branches(short, exact, sims).filter(
        F.col("similarity") > F.lit(threshold)
    )
    if not fuzzy_rescue:
        return best
    # the pre-rescue result feeds both the anti-join and the union —
    # materialize eagerly (both consumers run concurrently in the final job;
    # lazy evaluation recomputed the whole candidate-join subtree, measured
    # ~3x wall) and cut its lineage like every memo (see _materialize_memo)
    best = _materialize_memo(
        best, truncate=truncate_memos is not False, reliable_dir=memo_checkpoint_dir
    )

    from spacy_ann_linker_spark.functions.stringsim import jaro_winkler_udf

    unmatched = texts.join(best, "text", "left_anti")
    aliases = model.aliases.select(
        "alias",
        F.lower(F.substring("alias", 1, 1)).alias("_bk"),
        F.length("alias").alias("_alen"),
    )
    keyed = unmatched.withColumn("_bk", F.lower(F.substring("text", 1, 1))).withColumn(
        "_tlen", F.length("text")
    )
    if broadcast_rescue_aliases:
        paired = keyed.join(F.broadcast(aliases), "_bk")
    else:
        # salted shuffle join (hot first-character blocks): aliases are the
        # big side — each picks a deterministic bucket from its own string;
        # the (distinct-mention-sized) unmatched side replicates into all
        # buckets, so every (mention, alias) pair still meets exactly once
        from spacy_ann_linker_spark.operators.salted import salted_join

        paired = salted_join(
            big=aliases,
            small=keyed,
            key="_bk",
            salt_buckets=rescue_salt_buckets,
            salt_source="alias",
        )
    blocked = (
        paired.filter(F.abs(F.col("_tlen") - F.col("_alen")) <= 4)
        # Levenshtein prefilter (JVM built-in, with early-exit bound) before
        # the pandas-UDF Jaro-Winkler — north_star's JW/Levenshtein pair
        .filter(F.levenshtein(F.lower("text"), F.lower("alias"), 8) >= 0)
        .withColumn("similarity", jaro_winkler_udf(F.col("text"), F.col("alias")))
        .filter(F.col("similarity") > F.lit(jw_threshold))
    )
    rescued = (
        blocked.groupBy("text")
        .agg(
            F.min_by(
                F.struct("alias", "similarity"),
                F.struct((-F.col("similarity")).alias("s"), F.col("alias").alias("a")),
            ).alias("_b")
        )
        .select("text", F.col("_b.alias").alias("alias"), F.col("_b.similarity").alias("similarity"))
    )
    return best.unionByName(rescued)


def kb_get_candidates(
    model: CandidateModel,
    kb: KnowledgeBase,
    texts: DataFrame,
    threshold: float = 0.0,
) -> DataFrame:
    """`AnnKnowledgeBase.get_candidates(alias)` parity (ann_kb.py:244-259,
    SURVEY.md §3.4): exact alias hit -> KB candidates directly; otherwise
    nearest alias by similarity (k=1, ann_kb.py:24) and recurse — here one
    declarative plan: best alias per text (exact fast path included), then
    alias->entity expansion.
    -> (text, alias, similarity, entity_id, prior, ent_pos)"""
    best = best_aliases(model, texts, k=1, threshold=threshold, exact_fast_path=True)
    return best.join(kb.alias_map, "alias").select(
        "text", "alias", "similarity", "entity_id", "prior", "ent_pos"
    )


def context_vectors(
    turns: DataFrame, dim: int = 64, vectors_table: DataFrame | None = None
) -> DataFrame:
    """V4: per-turn context embedding (the reference's doc.vector — one
    transcript turn plays the role of one spaCy Doc).
    -> (conv_id, turn_idx, ctx_vector, ctx_norm)

    vectors_table: optional `(token, vector)` DataFrame — routes the stage
    through the pure-JVM table-backed mean-pool (embedding.py
    `mean_pool_from_table`; spaCy doc.vector semantics, OOV = zero vector).
    Default None keeps the fixture hash-vector pandas UDF (open
    vocabulary, reference-golden parity)."""
    if vectors_table is not None:
        from spacy_ann_linker_spark.link.embedding import mean_pool_from_table

        out = mean_pool_from_table(
            turns, ["conv_id", "turn_idx"], "text", vectors_table, dim=dim,
            out_col="ctx_vector",
        )
    else:
        out = turns.select(
            "conv_id", "turn_idx", mean_pool_udf(dim)(F.col("text")).alias("ctx_vector")
        )
    return with_vector_norm(out, "ctx_vector", "ctx_norm")


def link_mentions(
    mentions: DataFrame,
    turns: DataFrame,
    kb: KnowledgeBase,
    model: CandidateModel,
    k: int = 5,
    threshold: float = DEFAULT_THRESHOLD,
    no_description_threshold: float = 0.95,
    disambiguate: bool = True,
    exact_fast_path: bool = True,
    fuzzy_rescue: bool = False,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
    broadcast_rescue_aliases: bool = True,
    truncate_memos: bool | None = None,
    word_vectors_table: DataFrame | None = None,
    dim: int = 64,
    broadcast_exact_aliases: bool = True,
    broadcast_entity_vectors: bool = True,
    memo_checkpoint_dir: str | None = None,
) -> DataFrame:
    """mentions (MENTION_SCHEMA) + turns (TRANSCRIPT_SCHEMA) -> links.

    memo_checkpoint_dir: route every memo materialization through a
    RELIABLE parquet write+read instead of localCheckpoint/cache-only (see
    _materialize_memo) — an executor loss then recomputes from files rather
    than failing the query; recommended for 1000-executor runs.

    word_vectors_table: optional `(token, vector)` table — context embedding
    runs as the pure-JVM table-backed mean-pool (see context_vectors). With
    gold mention spans supplied and fuzzy_rescue off, the whole link plan is
    then Python-free.

    truncate_memos: None (default) or True cuts the lineage of every memo
    (see _materialize_memo); False keeps mention_alias_map and the
    pre-rescue memo uncut, the only opt-out (the distinct-texts memo is
    always cut).

    broadcast_exact_aliases / broadcast_entity_vectors: True (default) is
    right for every KB that fits one executor; False is the 100M-entity
    gazetteer regime — the reference's whole reason for remote linking was
    "KB cannot be in memory" (remote_ann_linker.py:21-23), and this engine's
    answer is that BOTH dimension tables can instead join as shuffles: the
    exact-alias lookup keys on near-unique full strings, and the
    entity-vector attach keys on entity_id (millions of distinct values —
    hot-entity skew is AQE skew-join territory, not a single-reducer
    collapse). Identical results either way, verified in tests.

    no_description_threshold is accepted for config parity and intentionally
    unused: in the reference it feeds a list comprehension whose result is
    discarded (dead code, ann_linker.py:50,84-88 — F5).
    Output: (conv_id, turn_idx, mention_id, text, start, end, label, alias,
    similarity, entity_id, context_similarity). Mentions whose candidates all
    fall below threshold are absent (reference leaves those spans
    unannotated, ann_linker.py:90-91)."""
    texts = mentions.select("text").distinct()
    # mention_alias_map is tiny (distinct mention strings) but its lineage is
    # the whole candidate-generation DAG — materialize eagerly and cut it
    # (see _materialize_memo), so the downstream consumers (candidate
    # expansion, turns semi-join) scan the materialized blocks instead of
    # recomputing the similarity join, dragging its plan into every task
    # binary, or nesting it into the output plan AQE re-renders after every
    # stage (J8 memo semantics)
    mam = _materialize_memo(
        best_aliases(
            model,
            texts,
            k=k,
            threshold=threshold,
            exact_fast_path=exact_fast_path,
            fuzzy_rescue=fuzzy_rescue,
            use_blocking=use_blocking,
            max_gram_df=max_gram_df,
            broadcast_rescue_aliases=broadcast_rescue_aliases,
            truncate_memos=truncate_memos,
            broadcast_exact_aliases=broadcast_exact_aliases,
            memo_checkpoint_dir=memo_checkpoint_dir,
        ),
        truncate=truncate_memos is not False,
        reliable_dir=memo_checkpoint_dir,
    )

    # J6 alias -> entity expansion with uniform priors
    cands = mam.join(kb.alias_map, "alias").select(
        "text", "alias", "similarity", "entity_id", "prior", "ent_pos"
    )

    matched = mentions.join(cands, "text")

    if not disambiguate:
        return matched.select(
            "conv_id", "turn_idx", "mention_id", "text", "start", "end", "label",
            "alias", "similarity",
            F.lit(None).cast("string").alias("entity_id"),
            F.lit(None).cast("double").alias("context_similarity"),
        )

    # embed context only for turns that still carry a candidate-bearing
    # mention — at web scale most turns mention nothing and the semi-join
    # keeps the (python-UDF) embedding stage off them entirely
    turns_needed = turns.join(
        matched.select("conv_id", "turn_idx").distinct(), ["conv_id", "turn_idx"], "left_semi"
    )
    ctx = context_vectors(turns_needed, dim=dim, vectors_table=word_vectors_table)
    evecs = kb.entities.select(
        F.col("id").alias("entity_id"), F.col("vector").alias("ent_vector"), "vnorm"
    )
    out_cols = [
        "conv_id", "turn_idx", "mention_id", "text", "start", "end", "label",
        "alias", "similarity", "entity_id", "context_similarity",
    ]
    # drop both vector arrays the moment the cosine is computed — they must
    # not ride through the argmax shuffle
    scored = (
        matched.join(
            F.broadcast(evecs) if broadcast_entity_vectors else evecs, "entity_id"
        )
        .join(ctx, ["conv_id", "turn_idx"])
        .withColumn(
            "context_similarity",
            dot_product(F.col("ent_vector"), F.col("ctx_vector"))
            / (F.col("vnorm") * F.col("ctx_norm") + F.lit(1e-8)),
        )
        .select(*out_cols, "ent_pos")
    )
    # T3 argmax as max_by (hash aggregate with map-side combine) instead of
    # a sort window: same result — max context_similarity, first-max-wins on
    # ties via lowest ent_pos (np.argmax order, ann_linker.py:119) — at a
    # fraction of the shuffle+sort cost
    return (
        scored.groupBy("mention_id")
        .agg(
            F.max_by(
                F.struct(*out_cols),
                F.struct(F.col("context_similarity"), (-F.col("ent_pos")).alias("np")),
            ).alias("_b")
        )
        .select("_b.*")
    )
