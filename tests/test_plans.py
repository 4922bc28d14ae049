"""Physical-plan audits (SURVEY.md §4): predicate pushdown reaches the
parquet scan, dimension joins broadcast, no cartesian products sneak into
the linkage plan. These assert on explain() output — the properties that
decide whether the same plan survives a 100 TB input."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
# Spark jobs per call (test_link_job_budget, test_serve_request_job_budget),
# each just above the count measured on a 4-core local[8] session
JOB_BUDGET_RESOLVED = 28  # 34 before the memo moved to mention grain (measured 32 -> 26)
JOB_BUDGET_SIMILARITY = 55  # 61 before (59 -> 53)
JOB_BUDGET_SERVE = 25  # 29 before (27 -> 23)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]" in plan
    # column pruning: scan schema carries only the two referenced columns
    assert "l_comment" not in plan


def test_exact_lookup_broadcasts_dimension(spark):
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["j5_exact_lookup"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_transform_broadcasts_vocab(spark, golden_model):
    from spacy_ann_linker_spark.vectorize import tfidf

    texts = spark.createDataFrame([("research",)], "text string")
    out = tfidf.transform(golden_model.cand.tfidf, texts, "text", "text")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan


# a mention that is no alias: it reaches the similarity join and, its cosine
# falling below the threshold, the JW rescue (-> "Research")
TYPO = "Reserch"


def _golden_links(spark, golden_model, typo=False, **kw):
    """The gazetteer's verbatim "Research"/"ML" mentions over 32 turns, all
    resolved inside the mention memo; typo=True adds one TYPO
    mention on the first turn."""
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.schemas import MENTION_SCHEMA
    from conftest import gazetteer_mentions
    from spacy_ann_linker_spark.pipeline import link_transcripts

    turns = generate_transcripts(spark, 32)
    mentions = gazetteer_mentions(turns, ["Research", "ML"])
    if typo:
        mentions = mentions.unionByName(
            spark.createDataFrame([("c00000000", 0, 1, TYPO, 0, 7, None)], MENTION_SCHEMA)
        )
    return link_transcripts(golden_model, turns, mentions=mentions, fuzzy_rescue=True, **kw)


def test_link_plan_has_no_cartesian_product(spark, golden_model):
    plan = _plan(_golden_links(spark, golden_model))
    assert "CartesianProduct" not in plan
    # entity-vector dimension join is broadcast (linker.py broadcasts evecs)
    assert "BroadcastHashJoin" in plan


def _memo_plans(monkeypatch) -> list:
    """Record the formatted plan of every memo a link call materializes: the
    similarity join and the JW rescue sit behind memo cuts, so the output
    plan never shows them."""
    from spacy_ann_linker_spark.link import linker

    plans = []
    real = linker._materialize_memo

    def spy(df, *a, **kw):
        plans.append(_plan(df))
        return real(df, *a, **kw)

    monkeypatch.setattr(linker, "_materialize_memo", spy)
    return plans


def test_similarity_link_plan_has_no_cartesian_product(spark, golden_model, monkeypatch):
    """The same audit over every plan of a call with a mention that reaches
    the similarity join and the JW rescue: the three memos and the output."""
    from spacy_ann_linker_spark.link.linker import memo_scope

    plans = _memo_plans(monkeypatch)
    with memo_scope():
        plans.append(_plan(_golden_links(spark, golden_model, typo=True)))
    assert len(plans) == 4
    assert not any("CartesianProduct" in p for p in plans)
    assert all("BroadcastHashJoin" in p for p in plans)


def test_no_broadcast_link_shuffles_the_gazetteer_join(spark, golden_model, monkeypatch):
    """broadcast_kb=False reaches the default mention extraction too: with
    size-based broadcasts off, the gazetteer's token->alias join on `_k`
    plans as a shuffle join, and the links equal the default run's. The
    extraction runs inside the first memo, so its plan is the one audited."""
    import re

    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.link.linker import memo_scope
    from spacy_ann_linker_spark.pipeline import link_transcripts

    turns = generate_transcripts(spark, 32)
    with memo_scope():
        want = sorted(link_transcripts(golden_model, turns).collect())
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plans = _memo_plans(monkeypatch)
        with memo_scope():
            got = sorted(link_transcripts(golden_model, turns, broadcast_kb=False).collect())
        plan = plans[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    k_joins = [
        block.split("\n", 1)[0]
        for block in re.split(r"\n(?=\(\d+\) )", plan)
        if "Join" in block.split("\n", 1)[0] and re.search(r"Left keys \[1\]: \[_k#", block)
    ]
    assert k_joins and not any("BroadcastHashJoin" in j for j in k_joins), k_joins
    assert got == want and len(want) > 0


def test_link_plan_does_not_nest_memo_plans(spark, golden_model):
    """Every link memo is cut, so the output plan holds each memo once as a
    checkpoint scan instead of nesting every upstream memo's plan inside
    the next. AQE re-renders this description after every query stage; the
    nested form was 62 InMemoryRelations (811 k characters) here against 4
    (35 k) cut, and 8.57 M characters on a 4,000-turn input."""
    from spacy_ann_linker_spark.link.linker import memo_scope

    with memo_scope():
        plan = _plan(_golden_links(spark, golden_model))
    assert plan.count("InMemoryRelation") <= 16, (plan.count("InMemoryRelation"), len(plan))


def test_link_memos_read_the_turns_once(spark, golden_model):
    """Building the link memos scans the turn source exactly once, and the
    whole call twice: mention extraction runs once, inside the mention memo,
    and the output pass reads only memos except for the context semi-join
    over the turns. Nothing may recompute extraction from the source — a
    cut memo is a checkpoint scan, which Spark's cache substitution cannot
    match a recomputed plan against."""
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.link.linker import memo_scope
    from spacy_ann_linker_spark.pipeline import link_transcripts

    turns = generate_transcripts(spark, 64)
    rows = turns.collect()
    reads = spark.sparkContext.accumulator(0)

    def tap(row):
        reads.add(1)
        return row

    source = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4).map(tap), turns.schema)
    with memo_scope():
        links = link_transcripts(golden_model, source, fuzzy_rescue=True)
        assert reads.value == len(rows)
        assert links.collect()
        assert reads.value == 2 * len(rows)


@pytest.mark.parametrize(
    "use_blocking,typo",
    [(False, False), (True, False), (True, True)],
    ids=["exact", "blocked", "blocked-similarity"],
)
def test_memo_scope_exit_frees_checkpoint_blocks(spark, golden_model, use_blocking, typo):
    """Leaving memo_scope() frees everything its memos hold — the cache AND
    the localCheckpoint blocks underneath — so a serve loop or a stream's
    micro-batches do not accumulate one persisted RDD per memo per call."""
    from spacy_ann_linker_spark.link.linker import memo_scope

    jsc = spark.sparkContext._jsc

    def call():
        with memo_scope():
            _golden_links(spark, golden_model, typo=typo, use_blocking=use_blocking).collect()

    call()  # first use materializes the model's lazily cached tables
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        call()
        assert jsc.getPersistentRDDs().size() == before


def test_candidate_join_partial_aggregates(spark, golden_model):
    """The sparse-matmul groupBy must map-side combine (partial HashAggregate
    before the exchange) — the property that keeps the shuffle linear in
    distinct (text, alias) pairs, not in raw join output rows."""
    from spacy_ann_linker_spark.candidates.generate import generate_candidates

    texts = spark.createDataFrame([("research",), ("statistics",)], "text string")
    cands = generate_candidates(golden_model.cand, texts, k=5)
    plan = _plan(cands)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_gazetteer_plan_broadcasts_aliases_no_cartesian(spark):
    """The distributed gazetteer's token->alias join must broadcast the
    alias side (dimension-sized) and never degrade to a cartesian product;
    the leftmost-longest fold is a JVM aggregate (no extra python stage)."""
    from spacy_ann_linker_spark.data import golden_kb
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer

    turns = generate_transcripts(spark, 32)
    m = extract_mentions_gazetteer(turns, golden_kb.load_aliases(spark).select("alias"))
    plan = _plan(m)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one python node (the offset-preserving tokenizer; formatted
    # plans print each node twice — tree + details); the greedy
    # span-selection fold stays JVM-side
    assert 1 <= plan.count("ArrowEvalPython") <= 2


def test_memo_lineage_truncation(spark):
    """Link memo tables cut lineage (eager localCheckpoint under the cache)
    so no memo's plan nests into the next one's or serializes into every
    downstream task binary — measured 20-70 s blocked links with
    >100 s/stage GC without it. The memo needs an InMemoryRelation on top
    of the checkpoint scan (a bare LogicalRDD loses size stats and with
    them the downstream broadcast decisions)."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.link.linker import _materialize_memo, release_memos

    release_memos()  # drain memos registered by earlier tests in this session
    df = spark.range(64).select(F.col("id"), (F.col("id") * 2).alias("x"))
    def downstream_plan(memo) -> str:
        # cache substitution happens when a NEW plan references the memo —
        # inspect a consumer, the way link_mentions' joins actually see it
        return memo.filter(F.col("id") >= 0)._jdf.queryExecution().optimizedPlan().toString()

    truncated, rows = _materialize_memo(df)
    assert rows == 64
    plan_t = downstream_plan(truncated)
    # the cached child is a checkpoint scan (LogicalRDD / Scan ExistingRDD),
    # not the original projection lineage
    assert "ExistingRDD" in plan_t or "LogicalRDD" in plan_t, plan_t
    assert "InMemoryRelation" in plan_t, plan_t

    # same contents as the uncut lineage
    assert sorted(truncated.collect()) == sorted(df.collect())
    assert release_memos() == 1


def test_blocked_link_plan_shape(spark, golden_model):
    """The blocked (LSH) link plan must keep the scale properties: no
    cartesian product, broadcast dimension joins, and a truncated memo
    (checkpoint scan) feeding the downstream joins instead of the deep
    LSH/rescue union lineage."""
    from spacy_ann_linker_spark.data.transcripts import generate_transcripts
    from spacy_ann_linker_spark.link.linker import release_memos
    from conftest import gazetteer_mentions
    from spacy_ann_linker_spark.pipeline import link_transcripts

    turns = generate_transcripts(spark, 32)
    mentions = gazetteer_mentions(turns, ["Research", "ML"])
    links = link_transcripts(
        golden_model, turns, mentions=mentions, fuzzy_rescue=True, use_blocking=True
    )
    plan = _plan(links)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the memo feeding the final joins is the truncated checkpoint scan
    assert "ExistingRDD" in plan or "InMemoryTableScan" in plan, plan[:2000]
    release_memos()


def test_blocked_similarity_link_plan_shape(spark, golden_model, monkeypatch):
    """test_blocked_link_plan_shape with a mention that reaches the blocked
    similarity join and the JW rescue: every memo plan and the output plan
    keep the same properties, and the links equal the exact path's."""
    from spacy_ann_linker_spark.link.linker import memo_scope

    with memo_scope():
        want = sorted(_golden_links(spark, golden_model, typo=True).collect())
    plans = _memo_plans(monkeypatch)
    with memo_scope():
        links = _golden_links(spark, golden_model, typo=True, use_blocking=True)
        plans.append(_plan(links))
        got = sorted(links.collect())
    assert len(plans) == 4
    assert not any("CartesianProduct" in p for p in plans)
    assert all("BroadcastHashJoin" in p for p in plans)
    # each memo after the first reads the one before it as a checkpoint scan
    assert all("ExistingRDD" in p or "InMemoryTableScan" in p for p in plans[1:])
    assert got == want and any(r["text"] == TYPO for r in got)


def _sims_built(monkeypatch) -> list:
    """Record each similarity-join plan the linker builds (exact or blocked;
    the TF-IDF transform of mention texts is built only inside them)."""
    from spacy_ann_linker_spark.candidates import generate

    built = []
    for name in ("_sims_exact", "_sims_blocked"):
        real = getattr(generate, name)

        def spy(*a, _real=real, _name=name, **kw):
            built.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(generate, name, spy)
    return built


def _scoped_memos(fn):
    """(result of fn, memos it registered) inside a fresh memo_scope."""
    from spacy_ann_linker_spark.link import linker

    with linker.memo_scope():
        out = fn()
        return out, len(linker._MEMO_SCOPE.get())


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_link_builds_only_the_stages_some_text_reaches(
    spark, golden_model, monkeypatch, tmp_path, reliable
):
    """When every distinct text is a short or exact alias hit, the call
    holds one memo and builds no TF-IDF, cosine-join or rescue stage; one
    non-alias mention brings back the similarity join, the best-alias memo
    and the rescued union. The counts that decide this are observed by the
    memo's own action, also when memos go through parquet."""
    kw = {"memo_checkpoint_dir": str(tmp_path)} if reliable else {}
    built = _sims_built(monkeypatch)

    links, memos = _scoped_memos(lambda: _golden_links(spark, golden_model, **kw).collect())
    assert links and memos == 1 and built == []

    links, memos = _scoped_memos(
        lambda: _golden_links(spark, golden_model, typo=True, **kw).collect()
    )
    assert memos == 3 and built == ["_sims_exact"]
    assert [(r["alias"], r["entity_id"]) for r in links if r["text"] == TYPO] == [
        ("Research", "a15")
    ]


def _jobs(spark, fn) -> int:
    """Spark jobs that fn() runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "typo,budget", [(False, JOB_BUDGET_RESOLVED), (True, JOB_BUDGET_SIMILARITY)],
    ids=["resolved", "similarity"],
)
def test_link_job_budget(spark, golden_model, typo, budget):
    """Fixed cost per call: the Spark jobs of one golden link_transcripts
    call, memos and output collect included. Each bound sits just above
    the count measured when it was set; the all-resolved call pays for no
    similarity join, best-alias memo or rescue."""
    from spacy_ann_linker_spark.link.linker import memo_scope

    def call():
        with memo_scope():
            _golden_links(spark, golden_model, typo=typo).collect()

    call()  # first use materializes the model's lazily cached tables
    assert _jobs(spark, call) <= budget


def test_serve_request_job_budget(spark, golden_model):
    """The Spark jobs of one serve.link_documents request (the golden
    sentence, every span an alias hit) stay within their bound."""
    from spacy_ann_linker_spark.link.serve import link_documents

    docs = [{
        "spans": [
            {"text": "NLP", "start": 0, "end": 3, "label": "SKILL"},
            {"text": "machine learning", "start": 37, "end": 53, "label": "SKILL"},
        ],
        "context": "NLP is a highly researched subset of machine learning.",
    }]
    link_documents(spark, golden_model, docs)  # warm the model's cached tables
    assert _jobs(spark, lambda: link_documents(spark, golden_model, docs)) <= JOB_BUDGET_SERVE


def test_ivf_assign_is_pure_projection_no_sort_window(spark):
    """The IVF coarse-quantizer argmin must be a pure projection over a
    broadcast single-row centroid array: a row_number sort window here
    shuffles + sorts items x centroids rows EACH carrying the item vector (a
    64x vector-bearing shuffle blow-up at 64 centroids). The plan must
    contain no Window and no Sort, and the only aggregate is the tiny
    centroid-table collapse (never over item rows)."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.extras.similarity_search import (
        ivf_assign,
        seeded_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    assigned = ivf_assign(emb, seeded_centroids(emb, 8))
    plan = _plan(assigned)
    assert "Window" not in plan, plan[:2000]
    assert "Sort" not in plan, plan[:2000]

    # correctness of the aggregate rewrite: every item lands on its true
    # nearest centroid (ties impossible on this data; spot-check argmin)
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.limit(200).collect()}
    cents = {r["centroid_id"]: np.array(r["embedding"])
             for r in seeded_centroids(emb, 8).collect()}
    got = {r["item_id"]: r["centroid_id"] for r in assigned.collect()}
    for vid, v in list(vecs.items())[:50]:
        best = min(
            cents,
            key=lambda c: (-float(v @ cents[c] / (np.linalg.norm(v) * np.linalg.norm(cents[c]) + 1e-12)), c),
        )
        assert got[vid] == best


def test_ivf_probe_join_broadcasts_probe_side(spark):
    """The probe join must broadcast the batch-sized probe table: shuffling
    instead would hash the whole assigned corpus into only n_centroids
    distinct keys (C reducers carry everything). broadcast_probes=False is
    the documented huge-offline-batch escape hatch and must return the same
    rows."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.extras.similarity_search import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    idx = build_ivf_index(emb, n_centroids=8)
    on = ivf_topk_indexed(idx, q, nprobe=4, k=3)
    plan = _plan(on)
    assert "BroadcastHashJoin" in plan, plan[:2000]

    def key(df):
        return {(r["query_id"], r["rank"]): r["item_id"] for r in df.collect()}

    assert key(on) == key(ivf_topk_indexed(idx, q, nprobe=4, k=3, broadcast_probes=False))


def test_dedup_minhash_band_keys_in_row_one_exchange(spark):
    """extras/dedup.minhash_band_keys must carry the in-row band shape
    (mirrors candidates/blocking.py): ONE map-side-combined Exchange for the
    signature groupBy, and only two Generates — the gram explode pre-agg and
    the band-struct explode post-agg. The old long-form shape re-shuffled
    docs x num_hashes rows through a second groupBy + collect_list + md5
    string per band."""
    from spacy_ann_linker_spark.extras.dedup import minhash_band_keys

    df = spark.createDataFrame(
        [(1, "the research lab"), (2, "the research labs")], "doc_id int, text string"
    )
    keys = minhash_band_keys(df, "doc_id", "text", num_hashes=32, bands=8)
    plan = _plan(keys)
    assert plan.count("+- Exchange") == 1, plan[:2000]
    assert plan.count("+- Generate") + plan.count(":- Generate") == 2, plan[:2000]
    assert "partial_min" in plan  # map-side combine over the gram rows
    assert "collect_list" not in plan
    # contract: exactly `bands` (band, bucket) rows per doc, deterministic
    rows = keys.collect()
    assert len(rows) == 2 * 8
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, minhash_band_keys(df, "doc_id", "text", num_hashes=32, bands=8).collect())
    )


def test_dedup_simhash_is_pure_projection_no_shuffle(spark):
    """extras/dedup.simhash must be a zero-shuffle pure projection: the
    gram-hash array materializes once behind a single Generate barrier and
    the per-bit votes fold in-row. The old shape exploded every gram row x 60
    bit positions into a groupBy(doc_id, bit) — a 60x row multiplication of
    the gram stream ahead of the aggregation."""
    from spacy_ann_linker_spark.extras.dedup import simhash

    df = spark.read.parquet(f"{SF}/documents.parquet")
    sig = simhash(df, "doc_id", "text")
    plan = _plan(sig)
    assert "Exchange" not in plan, plan[:2000]
    # only the one array-barrier Generate node in the tree
    assert plan.count("+- Generate") + plan.count(":- Generate") == 1, plan[:2000]
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan[:2000]


def test_qgram_edit_join_no_cartesian_and_bucketed_key(spark):
    """The q-gram candidate join must be a hash/merge EQUI-join on
    (gram, bucket) — never a nested-loop — and the verify must use the
    banded levenshtein. A cartesian here is the difference between
    linear-plus-collisions and all-pairs at 10^10 names."""
    from spacy_ann_linker_spark.extras.dedup import qgram_edit_pairs

    names = (
        spark.read.parquet(f"{SF}/part.parquet")
        .groupBy(F.lower(F.trim(F.col("p_name"))).alias("name"))
        .agg(F.min("p_partkey").alias("id"))
    )
    out = qgram_edit_pairs(names, "id", "name", max_distance=1, q=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoop" not in plan, plan[:2000]
    assert "levenshtein" in plan


def test_temperature_mix_data_rows_never_shuffle(spark):
    """temperature_mix must not exchange the data rows: the group-count agg
    and one-row corpus stat shuffle TINY aggregates, and the rate table
    joins back as a broadcast — the fact-table side of the plan is
    scan -> broadcast-join -> filter."""
    from spacy_ann_linker_spark.extras.sampling import temperature_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    out = temperature_mix(docs, "lang", "doc_id", alpha=0.5, target_frac=0.5)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the only SinglePartition exchange is the one-row corpus aggregate;
    # no hash-partitioned exchange keyed by doc rows feeds the join
    assert "Exchange hashpartitioning(doc_id" not in plan, plan[:2000]


def test_ivfpq_item_side_ships_codes_not_vectors(spark):
    """After PQ encode, the item-side columns crossing the probe join must
    be (item_id, centroid_id, codes) — if 'residual' or 'item_v' survives
    into the join, the 16x compression story is broken and the corpus
    ships its vectors again."""
    from spacy_ann_linker_spark.extras.similarity_search import ivfpq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    out = ivfpq_topk(emb, emb.filter(F.col("vec_id") < 4), 8, 2, 3, 4, 8)
    plan = _plan(out)
    # the only Cross joins are the one-row broadcast-array crossJoins
    # (centroid array / codebook / LUT collapse) — never a true cartesian
    assert "CartesianProduct" not in plan
    # the probe join hashes on centroid_id with the tiny LUT side broadcast
    assert "BroadcastHashJoin" in plan
    # the top-k rank is the slim WindowGroupLimit shape, and the rank
    # exchange (hashpartitioning on q_id) moves only (q_id, item_id, score)
    # — no vectors, residuals, or codes ride the rank shuffle
    assert "WindowGroupLimit" in plan
    rank_exchanges = [
        blk
        for blk in plan.split("\n\n")
        if blk.lstrip().startswith("(")
        and ") Exchange" in blk.splitlines()[0]
        and "hashpartitioning(q_id" in blk
    ]
    assert rank_exchanges, plan[:3000]
    for blk in rank_exchanges:
        assert "residual" not in blk and "item_v" not in blk and "codes" not in blk, blk
