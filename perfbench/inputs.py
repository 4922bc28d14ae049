"""Seeded inputs. Everything here is plain Python + pyarrow, so input
generation never runs on the system under test; the library only receives
the parquet files written here.

transcripts: the library's own transcript generator (`turn_record`, one
  pure function of (seed, turn number)) over the golden 18-alias KB.
kb_scale: the synthetic KB generator's per-entity function
  (`entity_record`), grouped into alias rows exactly as `generate_kb`
  does, plus turns that each carry one supplied span: the alias verbatim,
  case-changed, or with a one-character typo.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

_TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

_LABEL_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("mention", pa.string()),
    ("start", pa.int32()),
    ("end", pa.int32()),
    ("gold_entity", pa.string()),
    ("block_key", pa.string()),
])


@dataclass
class Inputs:
    """Paths of the generated tables plus the gold labels kept in memory
    for the output checks."""

    n_turns: int
    turns_dir: str  # parquet directory, one or more files
    labels_path: str
    labels: list[dict]
    entities_path: str | None = None  # kb_scale only
    aliases_path: str | None = None
    mentions_path: str | None = None
    alias_entities: dict[str, list[str]] = field(default_factory=dict)

    @property
    def alias_strings(self) -> list[str]:
        return sorted(self.alias_entities)


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    cols = {name: [r[name] for r in rows] for name in schema.names}
    pq.write_table(pa.table(cols, schema=schema), path)


def transcripts(workdir: str, n_turns: int, seed: int, n_files: int) -> Inputs:
    """`n_turns` generator turns split over `n_files` parquet files (the
    batch leg reads the directory; the stream reads one file per trigger)."""
    from spacy_ann_linker_spark.data.golden_kb import read_resource_jsonl
    from spacy_ann_linker_spark.data.transcripts import turn_record

    rows = [turn_record(seed, gid) for gid in range(n_turns)]
    for r in rows:
        r["ts"] = r["ts"].tz_localize("UTC").to_pydatetime()
    turns_dir = os.path.join(workdir, "turns")
    os.makedirs(turns_dir)
    per = -(-n_turns // n_files)
    for i in range(n_files):
        _write(rows[i * per:(i + 1) * per], _TURN_SCHEMA, os.path.join(turns_dir, f"part-{i:03d}.parquet"))
    labels = [r for r in rows if r["mention"] is not None]
    labels_path = os.path.join(workdir, "labels.parquet")
    _write(labels, _LABEL_SCHEMA, labels_path)
    aliases = {a["alias"]: a["entities"] for a in read_resource_jsonl("golden_aliases.jsonl")}
    return Inputs(n_turns, turns_dir, labels_path, labels, alias_entities=aliases)


def _typo(word: str, rng: random.Random) -> str:
    i = rng.randrange(1, len(word))
    c = rng.choice("abcdefghijklmnopqrstuvwxyz".replace(word[i].lower(), ""))
    return word[:i] + c + word[i + 1:]


def kb_scale(workdir: str, n_entities: int, n_turns: int, seed: int) -> Inputs:
    """Synthetic KB of `n_entities` (2 aliases each) and `n_turns` turns
    with one supplied span per turn."""
    from spacy_ann_linker_spark.data.synthetic_kb import entity_record

    ents = [entity_record(seed, gid) for gid in range(n_entities)]
    entities_path = os.path.join(workdir, "entities.parquet")
    _write(ents, pa.schema([(c, pa.string()) for c in ("id", "name", "description", "label")]), entities_path)
    by_alias: dict[str, list[str]] = {}
    for e in ents:
        for a in (e["alias1"], e["alias2"]):
            by_alias.setdefault(a, []).append(e["id"])
    alias_rows = [
        {"alias": a, "entities": sorted(ids), "probabilities": [1.0 / len(ids)] * len(ids)}
        for a, ids in sorted(by_alias.items())
    ]
    aliases_path = os.path.join(workdir, "aliases.parquet")
    _write(alias_rows, pa.schema([
        ("alias", pa.string()), ("entities", pa.list_(pa.string())),
        ("probabilities", pa.list_(pa.float64())),
    ]), aliases_path)

    rng = random.Random(seed)
    turns, labels, mentions = [], [], []
    for i in range(n_turns):
        e = ents[rng.randrange(n_entities)]
        alias = e["alias1"] if rng.random() < 0.75 else e["alias2"]
        form = rng.random()
        if form < 0.2:
            span = alias.lower() if rng.random() < 0.5 else alias.upper()
        elif form < 0.5:
            span = _typo(alias, rng)
        else:
            span = alias
        words = e["description"].split()
        lead = " ".join(rng.choice(words) for _ in range(rng.randint(2, 5)))
        trail = " ".join(rng.choice(words) for _ in range(rng.randint(2, 5)))
        start = len(lead) + 1
        conv = f"k{i:07d}"
        turns.append({"conv_id": conv, "turn_idx": 0, "role": "user",
                      "text": f"{lead} {span} {trail}", "tool": "", "ts": None})
        labels.append({"conv_id": conv, "turn_idx": 0, "mention": span, "start": start,
                       "end": start + len(span), "gold_entity": e["id"],
                       "block_key": alias.lower()})
        mentions.append({"conv_id": conv, "turn_idx": 0, "mention_id": i, "text": span,
                         "start": start, "end": start + len(span), "label": None})
    turns_dir = os.path.join(workdir, "turns")
    os.makedirs(turns_dir)
    _write(turns, _TURN_SCHEMA, os.path.join(turns_dir, "part-000.parquet"))
    labels_path = os.path.join(workdir, "labels.parquet")
    _write(labels, _LABEL_SCHEMA, labels_path)
    mentions_path = os.path.join(workdir, "mentions.parquet")
    _write(mentions, pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("mention_id", pa.int64()),
        ("text", pa.string()), ("start", pa.int32()), ("end", pa.int32()), ("label", pa.string()),
    ]), mentions_path)
    return Inputs(n_turns, turns_dir, labels_path, labels, entities_path, aliases_path,
                  mentions_path, alias_entities={r["alias"]: r["entities"] for r in alias_rows})
