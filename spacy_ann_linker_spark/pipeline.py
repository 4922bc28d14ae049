"""End-to-end record-linkage pipeline (SURVEY.md §3, north_rule).

    build_kb -> fit_candidate_model          (the reference's create_index)
    transcripts -> mentions -> link_mentions  (AnnLinker.__call__ per turn)
    links -> entity edges -> connected components -> clusters  (north_rule)

Each stage is a DataFrame -> DataFrame function; `run_linkage` wires them and
optionally checkpoints each stage via plans.checkpoint (resume support).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacy_ann_linker_spark.candidates.generate import CandidateModel, fit_candidate_model
from spacy_ann_linker_spark.cluster.cc import connected_components
from spacy_ann_linker_spark.data import golden_kb
from spacy_ann_linker_spark.kb.build import KnowledgeBase, build_kb
from spacy_ann_linker_spark.link.linker import link_mentions
from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer


@dataclass
class LinkageModel:
    kb: KnowledgeBase
    cand: CandidateModel

    def save(self, path: str) -> None:
        self.kb.save(f"{path}/kb")
        self.cand.save(f"{path}/cand")

    @staticmethod
    def load(spark, path: str) -> "LinkageModel":
        return LinkageModel(
            kb=KnowledgeBase.load(spark, f"{path}/kb"),
            cand=CandidateModel.load(spark, f"{path}/cand"),
        )


def build_golden_model(spark: SparkSession, dim: int = 64, min_df: int = 2) -> LinkageModel:
    """create_index over the golden tutorial KB (cli/create_index.py:48-114).

    min_df=2 is the reference default (candidate_generator.py:121) — on an
    18-alias corpus it collapses most alias vectors to 1-2 shared ngrams
    (faithful but typo-hostile); the production pipeline passes min_df=1."""
    kb = build_kb(golden_kb.load_entities(spark), golden_kb.load_aliases(spark), dim=dim)
    return LinkageModel(kb=kb, cand=fit_candidate_model(kb, min_df=min_df))


def link_transcripts(
    model: LinkageModel,
    turns: DataFrame,
    mentions: DataFrame | None = None,
    **options,
) -> DataFrame:
    """Link every mention in every turn to its KB entity; `options` are
    link_mentions' keyword options.

    `mentions` defaults to dictionary extraction over the KB alias strings
    (the upstream-NER stand-in); pass explicit mentions (e.g. gold label
    spans) to mirror the reference's externally-supplied doc.ents. The
    default path is the distributed tokenize->join gazetteer — no driver
    collect(), no per-pattern regex; the alias table can be any size."""
    if mentions is None:
        mentions = extract_mentions_gazetteer(
            turns,
            model.cand.aliases,
            broadcast_aliases=options.get("broadcast_kb", True),
        )
    return link_mentions(mentions, turns, model.kb, model.cand, **options)


def run_checkpointed_linkage(
    spark: SparkSession,
    ckpt_root: str,
    turns: DataFrame,
    mentions: DataFrame,
    entities_df: DataFrame | None = None,
    aliases_df: DataFrame | None = None,
    input_snapshot: str = "",
    threshold: float = 0.7,
    min_df: int = 1,
    fuzzy_rescue: bool = True,
    use_blocking: bool = False,
    dim: int = 64,
) -> DataFrame:
    """Full linkage job with per-stage checkpoint/lineage/metrics (north_rule
    resume semantics): kill the job after any stage, re-run with the same
    inputs, and committed stages are skipped byte-identically.

    Stage DAG (each committed as a table via plans.checkpoint):
        kb_entities -> kb_alias_map -> vocab/alias_vectors
        mentions ----^                                   \\
        turns ------------------------------------> links -> clusters
    """
    from spacy_ann_linker_spark.candidates.generate import CandidateModel, fit_candidate_model
    from spacy_ann_linker_spark.kb.build import SHORT_ALIAS_MAX_LEN
    from spacy_ann_linker_spark.plans.checkpoint import CheckpointManager, df_snapshot
    from spacy_ann_linker_spark.vectorize.tfidf import TfidfModel

    if entities_df is None:
        entities_df = golden_kb.load_entities(spark)
    if aliases_df is None:
        aliases_df = golden_kb.load_aliases(spark)

    cm = CheckpointManager(spark, ckpt_root)
    cfg = {"threshold": threshold, "min_df": min_df, "dim": dim,
           "fuzzy_rescue": fuzzy_rescue, "use_blocking": use_blocking,
           "snapshot": input_snapshot}
    # KB inputs are dimension-sized: fingerprint their CONTENT so a changed
    # entity/alias table invalidates kb stages even at an unchanged path
    kb_snap = {"entities": df_snapshot(entities_df), "aliases": df_snapshot(aliases_df)}

    kb0 = build_kb(entities_df, aliases_df, dim=dim)
    ents = cm.stage("kb_entities", {"cfg": cfg, "kb": kb_snap}, lambda: kb0.entities)
    fp_ents = cm.fingerprint_of("kb_entities")
    amap = cm.stage("kb_alias_map", {"up": fp_ents}, lambda: kb0.alias_map)
    fp_amap = cm.fingerprint_of("kb_alias_map")
    kb = KnowledgeBase(
        entities=ents,
        alias_map=amap,
        short_aliases=amap.select("alias").distinct().filter(
            F.length("alias") < SHORT_ALIAS_MAX_LEN
        ),
        dim=dim,
    )

    cand0 = fit_candidate_model(kb, min_df=min_df)
    vocab = cm.stage("vocab", {"up": fp_amap, "min_df": min_df}, lambda: cand0.tfidf.vocab)
    fp_vocab = cm.fingerprint_of("vocab")
    avecs = cm.stage("alias_vectors", {"up": fp_vocab}, lambda: cand0.alias_vectors)
    cand = CandidateModel(
        tfidf=TfidfModel(vocab=vocab, min_df=min_df),
        alias_vectors=avecs,
        short_aliases=kb.short_aliases,
        aliases=kb.aliases(),
    )

    model = LinkageModel(kb=kb, cand=cand)
    fp_avecs = cm.fingerprint_of("alias_vectors")
    links = cm.stage(
        "links",
        {"up": [fp_avecs, fp_ents], "cfg": cfg},
        lambda: link_transcripts(
            model, turns, mentions=mentions, threshold=threshold,
            fuzzy_rescue=fuzzy_rescue, use_blocking=use_blocking,
        ),
    )
    clusters = cm.stage(
        "clusters", {"up": cm.fingerprint_of("links")}, lambda: cluster_links(links)
    )
    return clusters


def cluster_links(links: DataFrame, max_iter: int = 30) -> DataFrame:
    """J9: transitive clustering of accepted matches. Nodes are mention
    surface strings ("m:" prefix) and entity ids ("e:" prefix); edges are the
    accepted mention->entity links, so mentions sharing an entity (and
    entities sharing a mention surface) land in one cluster.
    -> (node string, component string)"""
    edges = links.select(
        F.concat(F.lit("m:"), F.col("text")).alias("src"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
    ).distinct()
    return connected_components(edges, max_iter=max_iter)
