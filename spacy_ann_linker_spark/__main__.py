"""CLI — the reference's command surface re-expressed
(`spacy_ann create_index MODEL KB_DIR OUTPUT_DIR`, cli/__init__.py:14-27,
SURVEY.md §3.1; `serve` becomes the batch/streaming link job — the HTTP
boundary disappears, SURVEY.md §3.3).

    python -m spacy_ann_linker_spark create-index \\
        --entities entities.jsonl --aliases aliases.jsonl --output /models/kb
    python -m spacy_ann_linker_spark link \\
        --model /models/kb --turns turns.parquet --output links.parquet
"""

from __future__ import annotations

import argparse
import sys


def _spark(cores: int):
    from spacy_ann_linker_spark.session import get_spark

    return get_spark(app_name="spacy_ann_linker_spark.cli", cores=cores)


def cmd_create_index(args) -> int:
    """Build KB + candidate model tables from entity/alias JSONL
    (create_index equivalent: cli/create_index.py:48-114)."""
    from spacy_ann_linker_spark.candidates.generate import fit_candidate_model
    from spacy_ann_linker_spark.data import golden_kb
    from spacy_ann_linker_spark.kb.build import build_kb
    from spacy_ann_linker_spark.pipeline import LinkageModel

    spark = _spark(args.cores)
    entities = golden_kb.load_entities(spark, args.entities)
    aliases = golden_kb.load_aliases(spark, args.aliases)
    kb = build_kb(entities, aliases, dim=args.dim)
    model = LinkageModel(kb=kb, cand=fit_candidate_model(kb, min_df=args.min_df))
    model.save(args.output)
    n_e = spark.read.parquet(f"{args.output}/kb/kb_entities").count()
    n_a = spark.read.parquet(f"{args.output}/kb/kb_alias_map").count()
    print(f"create-index: {n_e} entities, {n_a} alias->entity rows -> {args.output}")
    return 0


def cmd_link(args) -> int:
    """Link a transcripts parquet against a saved model."""
    from spacy_ann_linker_spark.pipeline import LinkageModel, link_transcripts

    spark = _spark(args.cores)
    model = LinkageModel.load(spark, args.model)
    turns = spark.read.parquet(args.turns)
    links = link_transcripts(
        model,
        turns,
        threshold=args.threshold,
        fuzzy_rescue=not args.no_rescue,
        use_blocking=args.blocking,
        max_gram_df=args.max_gram_df,
        broadcast_kb=not args.no_broadcast,
        memo_checkpoint_dir=args.memo_checkpoint_dir,
    )
    links.write.mode("overwrite").parquet(args.output)
    print(f"link: {spark.read.parquet(args.output).count()} links -> {args.output}")
    return 0


def cmd_example_data(args) -> int:
    """Write the tutorial KB JSONL files (reference `spacy_ann example_data`,
    cli/example_data.py:21-144 — same 15 entities / 18 aliases, shipped here
    as package data)."""
    import json
    import os

    from spacy_ann_linker_spark.data.golden_kb import read_resource_jsonl

    os.makedirs(args.output_dir, exist_ok=True)
    for name, records in (
        ("entities.jsonl", read_resource_jsonl("golden_entities.jsonl")),
        ("aliases.jsonl", read_resource_jsonl("golden_aliases.jsonl")),
    ):
        path = os.path.join(args.output_dir, name)
        with open(path, "w") as f:
            for r in records:
                f.write(json.dumps(r, sort_keys=True) + "\n")
        print(f"example-data: wrote {len(records)} records -> {path}")
    return 0


def cmd_serve(args) -> int:
    """Serve POST /link over a saved model (reference `spacy_ann serve`,
    cli/serve.py:31-59)."""
    from spacy_ann_linker_spark.link.serve import make_server
    from spacy_ann_linker_spark.pipeline import LinkageModel

    spark = _spark(args.cores)
    model = LinkageModel.load(spark, args.model)
    # warm the model tables so the first request isn't a cold build
    model.cand.alias_vectors.cache().count()
    model.kb.entities.cache().count()
    server = make_server(spark, model, args.host, args.port)
    print(f"serve: listening on http://{args.host}:{args.port} (POST /link)")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spacy_ann_linker_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ci = sub.add_parser("create-index", help="build KB + vectorizer tables from JSONL")
    ci.add_argument("--entities", required=True)
    ci.add_argument("--aliases", required=True)
    ci.add_argument("--output", required=True)
    ci.add_argument("--min-df", type=int, default=2)
    ci.add_argument("--dim", type=int, default=64)
    ci.add_argument("--cores", type=int, default=4)
    ci.set_defaults(fn=cmd_create_index)

    lk = sub.add_parser("link", help="link transcript turns against a saved model")
    lk.add_argument("--model", required=True)
    lk.add_argument("--turns", required=True)
    lk.add_argument("--output", required=True)
    lk.add_argument("--threshold", type=float, default=0.7)
    lk.add_argument("--no-rescue", action="store_true")
    lk.add_argument("--blocking", action="store_true",
                    help="LSH+prefix blocked candidate path (bounded at any scale)")
    lk.add_argument("--max-gram-df", type=int, default=None, dest="max_gram_df",
                    help="prune ngrams with df above this from the exact cosine join")
    lk.add_argument("--no-broadcast", action="store_true", dest="no_broadcast",
                    help="shuffle fallbacks for ALL alias/entity "
                         "dimension joins: mention extraction's token "
                         "join, exact-alias lookup, entity-vector attach, "
                         "and the salted JW-rescue block join (gazetteers "
                         "too big to broadcast; identical results)")
    lk.add_argument("--memo-checkpoint-dir", default=None, dest="memo_checkpoint_dir",
                    help="materialize memos via reliable parquet "
                         "write+read under this dir instead of "
                         "localCheckpoint (executor-loss-safe)")
    lk.add_argument("--cores", type=int, default=4)
    lk.set_defaults(fn=cmd_link)

    ed = sub.add_parser("example-data", help="write the tutorial KB JSONL files")
    ed.add_argument("--output-dir", required=True)
    ed.set_defaults(fn=cmd_example_data)

    sv = sub.add_parser("serve", help="HTTP POST /link over a saved model")
    sv.add_argument("--model", required=True)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument("--cores", type=int, default=4)
    sv.set_defaults(fn=cmd_serve)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
