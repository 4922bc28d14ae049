"""Extra benchmarks (guide §1.4 isolation) — NOT the driver contract.

bench.py is frozen for measurement; this file exists for optimization-round
forensics: per-query noop-sink timing, best-of-N, with job descriptions so
the timings can be attributed. Prints one JSON line.

  python bench_extra.py q1 q2 ...          # time the named declared queries
  python bench_extra.py --reps 3 q1 ...    # best-of-3
  python bench_extra.py --all              # every query bench.py times
"""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
import __spark_entry__ as e
from bench import _container_cpu_sec
from spacy_ann_linker_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "a1_ngram_document_frequency", "t1_cosine_topk", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_lsh_jaccard", "text_quality_score",
    "text_unigram_logprob", "sessionize_events", "cc_components",
    "split_train_val_test", "pack_doc_sequences", "a4b_mean_pool_table",
    "jw_similarity", "ann_ivf_topk", "bm25_score", "stratified_sample",
    "cluster_pairwise_metrics", "golden_records", "topk_terms",
    "group_percentiles", "fellegi_sunter_score", "bcubed_metrics",
    "cluster_agreement", "token_block_pairs", "meta_block_cnp",
    "set_similarity_join", "monge_elkan_sim", "asof_attribution",
    "interval_join_windows", "soft_tfidf_sim", "dl_similarity",
    "fs_tf_adjusted", "cascade_link", "dedup_paragraphs",
    "cosine_similarity_join", "dedup_duplicate_spans", "dedup_containment",
    "qlm_score", "rrf_fusion", "token_pmi", "sliding_window_sn",
    "ranking_metrics", "context_window", "decayed_priors",
    "contrastive_negatives", "qgram_edit_join", "ann_ivfpq_topk",
    "bm25_prf_score", "pagerank_docs", "label_propagation",
    "normalize_names", "scd2_history", "scd2_merge", "mutual_best_pairs",
    "temperature_mix", "suffix_block_pairs",
]


def main():
    args = [a for a in sys.argv[1:]]
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    names = BENCH_QUERIES if "--all" in args else args
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    qs = e.queries()
    out = {}
    cpus = {}
    for name in names:
        best = None
        best_cpu = None
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0 = _container_cpu_sec()
            t0 = time.perf_counter()
            qs[name](spark, SF).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            csec = (_container_cpu_sec() - c0) if c0 is not None else None
            best = sec if best is None else min(best, sec)
            if csec is not None:
                best_cpu = csec if best_cpu is None else min(best_cpu, csec)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        if best_cpu is not None:
            cpus[name] = round(best_cpu, 1)
        print(f"# {name}: {out[name]}s cpu {cpus.get(name)}s", file=sys.stderr)
    print(json.dumps({"metric": "bench_extra_seconds", "queries": out,
                      "cpu_sec": cpus,
                      "value": round(sum(out.values()), 3), "unit": "sec",
                      "reps": reps, "sf": SF}))


if __name__ == "__main__":
    main()
