"""Linking stage — the Spark re-expression of `AnnLinker.__call__`
(reference ann_linker.py:63-123; SURVEY.md §3.2, F4, J6-J8, T2-T3).

One declarative lineage per batch of mentions:

    mentions --dedup text--> candidates --sim > threshold--> best alias
             --alias_map join--> entity candidates
             --context cosine--> argmax --> links

Reference behaviors preserved:
  * F4 strict `>` threshold, default 0.7 (ann_linker.py:49,81-83)
  * F5 no_description_threshold is DEAD CODE in the reference (a list
    comprehension whose result is discarded, ann_linker.py:84-88) — no
    parameter, no operator
  * J8 mention->best-alias memo (`mentions_to_alias_cand`, ann_linker.py:94-97)
    = the mention memo (_alias_memo): every mention resolved once, each
    distinct text it leaves unresolved scored once; `best_aliases` is the
    same core over distinct texts
  * J7/T3 disambiguation: cosine(entity_vector, context_vector) with +1e-8
    denominator guard (ann_linker.py:102-110), argmax with first-max-wins on
    ties = KB insertion order (np.argmax, :119) -> (desc(sim), asc(ent_pos))
  * disambiguate=False annotates candidates but sets no kb id (:99)
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from spacy_ann_linker_spark.candidates.generate import (
    CandidateModel,
    _best_unresolved,
    _resolved_mentions,
)
from spacy_ann_linker_spark.kb.build import KnowledgeBase
from spacy_ann_linker_spark.link.embedding import (
    dot_product,
    mean_pool_udf,
    with_vector_norm,
)

DEFAULT_THRESHOLD = 0.7  # ann_linker.py:49
JW_THRESHOLD = 0.88  # fuzzy-rescue cut, strict >
RESCUE_SALT_BUCKETS = 16  # salted rescue join fan-out when the KB is not broadcast

# memo tables (the mention memo and the text->alias memos) registered
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


def _materialize_memo(df: DataFrame, reliable_dir: str | None = None) -> tuple[DataFrame, int]:
    """Materialize a memo table eagerly and cut its lineage -> (memo, rows).

    Every link memo comes through here: an eager localCheckpoint, then
    persist()+count() on top; the count is handed back. A link call holds
    one memo when every mention resolves by J4/J5 (the mention memo), two
    when some text reaches the similarity join (+ the text->alias memo of
    the distinct unresolved texts), and three when the JW rescue runs (+
    the rescued union); best_aliases holds the same memos over distinct
    texts (see _alias_memo). The
    InMemoryRelation layered over the checkpoint scan restores size stats
    and columnar scans (a bare LogicalRDD reports unknown size — measured
    +45 CPU-s from lost broadcast decisions).

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

    reliable_dir: when set, the memo is WRITTEN to parquet under a unique
    subdirectory and read back instead of localCheckpoint — lineage is cut
    the same way, but the materialized bytes live in the (replicated /
    re-readable) filesystem rather than unreplicated executor block storage,
    so an executor loss recomputes from the files instead of failing the
    query. Costs one write+read round trip per memo. The first memo of a
    link call holds one row per mention (the later ones one per distinct
    unresolved text) — at scale that still costs less than tokenizing every
    turn again, which is what re-reading a lazy mention source means — so
    at 1000-executor scale this is the safe default and localCheckpoint is
    the latency optimization (the same swap point plans/checkpoint.py
    documents for Iceberg).

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
    else:
        df = df.localCheckpoint(eager=True)
        # the LogicalRDD's RDD holds the checkpoint blocks
        checkpoint_rdd = df._jdf.queryExecution().analyzed().rdd()
    out = df.persist()
    n = out.count()
    # remembered so release_memos/memo_scope exit frees them — memos are
    # per-request scratch, not caller-owned output
    out._memo_parquet_path = memo_path
    out._memo_checkpoint_rdd = checkpoint_rdd
    scope = _MEMO_SCOPE.get()
    (_PERSISTED_MEMOS if scope is None else scope).append(out)
    return out, n


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


def _jw_rescue(model: CandidateModel, unmatched: DataFrame, broadcast_kb: bool) -> DataFrame:
    """(text, alias, similarity): the best Jaro-Winkler alias (> JW_THRESHOLD)
    for each distinct unmatched text, among blocking-key-compatible aliases
    (same first lowercase character, |length delta| <= 4)."""
    from spacy_ann_linker_spark.functions.stringsim import jaro_winkler_udf

    aliases = model.aliases.select(
        "alias",
        F.lower(F.substring("alias", 1, 1)).alias("_bk"),
        F.length("alias").alias("_alen"),
    )
    keyed = unmatched.withColumn("_bk", F.lower(F.substring("text", 1, 1))).withColumn(
        "_tlen", F.length("text")
    )
    if broadcast_kb:
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
            salt_buckets=RESCUE_SALT_BUCKETS,
            salt_source="alias",
        )
    blocked = (
        paired.filter(F.abs(F.col("_tlen") - F.col("_alen")) <= 4)
        # Levenshtein prefilter (JVM built-in, with early-exit bound) before
        # the pandas-UDF Jaro-Winkler — north_star's JW/Levenshtein pair
        .filter(F.levenshtein(F.lower("text"), F.lower("alias"), 8) >= 0)
        .withColumn("similarity", jaro_winkler_udf(F.col("text"), F.col("alias")))
        .filter(F.col("similarity") > F.lit(JW_THRESHOLD))
    )
    return (
        blocked.groupBy("text")
        .agg(
            F.min_by(
                F.struct("alias", "similarity"),
                F.struct((-F.col("similarity")).alias("s"), F.col("alias").alias("a")),
            ).alias("_b")
        )
        .select("text", F.col("_b.alias").alias("alias"), F.col("_b.similarity").alias("similarity"))
    )


def _alias_memo(
    model: CandidateModel,
    rows: DataFrame,
    threshold: float,
    exact_fast_path: bool,
    fuzzy_rescue: bool,
    use_blocking: bool,
    max_gram_df: int | None,
    broadcast_kb: bool,
    memo_checkpoint_dir: str | None,
) -> DataFrame:
    """rows (a `text` column plus any others) -> the same rows with (alias,
    similarity) attached, for every row whose text has an alias above
    `threshold` (or a JW-rescued one); the J8 memo at row grain.

    The rows are read once, by the first memo's action (_resolved_mentions:
    J4/J5 answered per row, the unresolved count observed). The similarity
    join and argmax run over the distinct texts it left unresolved, and
    only when there are any (_best_unresolved, cut as the text->alias memo,
    its own action observing how many texts found no alias). The JW rescue
    runs only when some text is left without one — or, at threshold >= 1,
    when some J4/J5 hit fails the strict > at similarity 1.0 — and its
    union with the scored texts is cut too. The result reads only memos:
    the resolved rows, plus the other rows joined to the text->alias memo."""
    memo, n_rows, n_unresolved = _resolved_mentions(
        model, rows, exact_fast_path, broadcast_kb=broadcast_kb,
        memo_checkpoint_dir=memo_checkpoint_dir,
    )
    resolved_pass = 1.0 > threshold
    scored = None
    unmatched = []
    if n_unresolved:
        no_alias = Observation()
        scored, _ = _materialize_memo(
            _best_unresolved(model, memo, threshold, use_blocking, max_gram_df).observe(
                no_alias, F.count_if(F.col("alias").isNull()).alias("n")
            ),
            reliable_dir=memo_checkpoint_dir,
        )
        if no_alias.get["n"]:
            unmatched.append(scored.filter(F.col("alias").isNull()).select("text"))
        scored = scored.filter(F.col("alias").isNotNull())
    if not resolved_pass and n_rows > n_unresolved:
        unmatched.append(memo.filter(F.col("alias").isNotNull()).select("text").distinct())
    if fuzzy_rescue and unmatched:
        rescued = _jw_rescue(model, reduce(DataFrame.unionByName, unmatched), broadcast_kb)
        scored, _ = _materialize_memo(
            rescued if scored is None else scored.unionByName(rescued),
            reliable_dir=memo_checkpoint_dir,
        )
    out = memo.filter(F.col("similarity") > F.lit(threshold))
    if scored is None:
        return out
    rest = memo.filter(F.col("alias").isNull()) if resolved_pass else memo
    return out.unionByName(rest.drop("alias", "similarity").join(scored, "text"))


def best_aliases(
    model: CandidateModel,
    texts: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    exact_fast_path: bool = False,
    fuzzy_rescue: bool = False,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
    broadcast_kb: bool = True,
    memo_checkpoint_dir: str | None = None,
) -> DataFrame:
    """(text, alias, similarity) — best surviving alias per distinct mention
    string (T2: `alias_candidates[0]` after the strict-> threshold filter).
    It is link_mentions' memo core (_alias_memo) run over
    `texts.select("text").distinct()`: it reads only memos, each
    materialized with its lineage cut and registered for release (see
    _materialize_memo).

    The first memo answers J4/J5 itself (generate.py _resolved_mentions);
    the similarity join runs only over the texts it left unresolved and
    only when there are any, and the JW rescue only when some text has no
    alias above `threshold`. When every text resolves, the result is a
    filter over that one memo and the call runs no TF-IDF, join or rescue
    stage. Similarity rows below the rounded threshold never reach the
    argmax (see generate.py _best_unresolved).

    fuzzy_rescue (off for reference parity, on in the production pipeline):
    mention strings whose every cosine candidate fell below `threshold` get a
    second chance via Jaro-Winkler (> JW_THRESHOLD) against
    blocking-key-compatible aliases (same first lowercase character,
    |length delta| <= 4) — the north_star's JW/Levenshtein scoring stage.
    Char-level edits destroy most of a short word's 3-grams (cosine
    collapses) while JW degrades gracefully.

    use_blocking / max_gram_df (both off = reference-exact) bound the
    similarity join at scale: LSH + prefix pair blocking, or a hot-gram df
    cap.

    broadcast_kb: True (default) broadcasts the alias tables — right for
    KB-sized alias sets, a hard OOM at a 100M-alias gazetteer. False
    switches the J5 exact-fast-path lookup (generate.py
    _resolved_mentions) to a shuffle join and the rescue's alias block
    table to a SALTED shuffle join: the first-character block key has only
    ~|alphabet| distinct values, so without salting every 's...' alias
    lands on one reducer; aliases pick a deterministic salt from their own
    string, unmatched mentions replicate across all RESCUE_SALT_BUCKETS
    (identical result set, verified in tests)."""
    return _alias_memo(
        model,
        texts.select("text").distinct(),
        threshold,
        exact_fast_path,
        fuzzy_rescue,
        use_blocking,
        max_gram_df,
        broadcast_kb,
        memo_checkpoint_dir,
    )


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
    best = best_aliases(model, texts, threshold=threshold, exact_fast_path=True)
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
    threshold: float = DEFAULT_THRESHOLD,
    disambiguate: bool = True,
    exact_fast_path: bool = True,
    fuzzy_rescue: bool = False,
    use_blocking: bool = False,
    max_gram_df: int | None = None,
    word_vectors_table: DataFrame | None = None,
    broadcast_kb: bool = True,
    memo_checkpoint_dir: str | None = None,
) -> DataFrame:
    """mentions (MENTION_SCHEMA) + turns (TRANSCRIPT_SCHEMA) -> links.

    The mention source is read once: the first memo holds every mention
    with its J4/J5 alias (see _alias_memo), each distinct text it leaves
    unresolved is scored once, and the output pass — alias->entity
    expansion, the turn semi-join and scoring — reads only memos, so a
    lazy source (the gazetteer's tokenizer UDF over every turn) is not
    run again. Every memo is materialized with its lineage cut (see
    _materialize_memo); a call where every mention text is a short or
    exact alias hit holds exactly one memo. memo_checkpoint_dir: route each
    one through a RELIABLE parquet write+read instead of localCheckpoint —
    an executor loss then recomputes from files rather than failing the
    query; recommended for 1000-executor runs.

    word_vectors_table: optional `(token, vector)` table — context embedding
    runs as the pure-JVM table-backed mean-pool (see context_vectors). With
    gold mention spans supplied and fuzzy_rescue off, the whole link plan is
    then Python-free. Either way context is embedded at `kb.dim`, the
    entity vectors' own length.

    broadcast_kb: True (default) is right for every KB that fits one
    executor; False is the 100M-entity gazetteer regime — the reference's
    whole reason for remote linking was "KB cannot be in memory"
    (remote_ann_linker.py:21-23), and this engine's answer is that every
    alias and entity dimension join can instead run as a shuffle: the
    exact-alias lookup keys on near-unique full strings, the JW rescue's
    first-character block join is salted (see best_aliases), and the
    entity-vector attach keys on entity_id (millions of distinct values —
    hot-entity skew is AQE skew-join territory, not a single-reducer
    collapse). Identical results either way, verified in tests.

    The reference's no_description_threshold has no counterpart: it feeds
    a list comprehension whose result is discarded (dead code,
    ann_linker.py:50,84-88 — F5).
    Output: (conv_id, turn_idx, mention_id, text, start, end, label, alias,
    similarity, entity_id, context_similarity). Mentions whose candidates all
    fall below threshold are absent (reference leaves those spans
    unannotated, ann_linker.py:90-91)."""
    linked = _alias_memo(
        model,
        mentions.select("conv_id", "turn_idx", "mention_id", "text", "start", "end", "label"),
        threshold,
        exact_fast_path,
        fuzzy_rescue,
        use_blocking,
        max_gram_df,
        broadcast_kb,
        memo_checkpoint_dir,
    )

    # J6 alias -> entity expansion with uniform priors
    matched = linked.join(kb.alias_map, "alias")

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
    ctx = context_vectors(turns_needed, dim=kb.dim, vectors_table=word_vectors_table)
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
            F.broadcast(evecs) if broadcast_kb else evecs, "entity_id"
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
