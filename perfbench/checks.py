"""Output checks, run untimed after the timed section, over collected rows.

Each check returns a list of failure messages (empty = pass). `self_test`
feeds each check a corrupted copy of a passing output (one link dropped,
one link altered) and reports any corruption a check failed to catch.

The expected values are computed here, independently of the library:
  * transcripts: the case-sensitive gazetteer finds exactly the turns whose
    mention is an alias verbatim, so the linked spans are known from the
    generator. A span of an alias with one entity links to it (its gold);
    an ambiguous alias ("ML", "NLP") links to one of its entities, chosen
    by context.
  * kb_scale: a plain-Python char_wb 3-gram TF-IDF over the alias list
    (sklearn formula, min_df=1) gives every mention's best cosine; the
    returned alias must not be outscored by any alias.
"""

from __future__ import annotations

import math
from collections import Counter

THRESHOLD = 0.7  # link_mentions default, strict >
JW_THRESHOLD = 0.88  # best_aliases' rescue cut, strict >
EPS = 1e-9


def link_key(r: dict) -> tuple:
    return (r["conv_id"], r["turn_idx"], r["start"], r["text"])


def f1_from_rows(links: list[dict], labels: list[dict]) -> float:
    """Pairwise F1 with evaluate.pairwise_f1's span identity key."""
    pred = {link_key(r): r["entity_id"] for r in links}
    gold = {(g["conv_id"], g["turn_idx"], g["start"], g["mention"]): g["gold_entity"] for g in labels}
    correct = sum(1 for k, e in pred.items() if gold.get(k) == e)
    p = correct / len(pred) if pred else 0.0
    r = correct / len(gold) if gold else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


# -- transcripts --------------------------------------------------------------

def transcripts_expected(labels: list[dict], alias_entities: dict[str, list[str]]) -> dict[tuple, set]:
    """span key -> the entities its link may name."""
    return {
        (g["conv_id"], g["turn_idx"], g["start"], g["mention"]):
            {g["gold_entity"]} if len(alias_entities[g["mention"]]) == 1 else set(alias_entities[g["mention"]])
        for g in labels
        if g["mention"] in alias_entities
    }


def check_transcripts(links: list[dict], expected: dict[tuple, set],
                      library_f1: float | None, labels: list[dict]) -> list[str]:
    errs = []
    got = {link_key(r): r["entity_id"] for r in links}
    if len(links) != len(expected):
        errs.append(f"link count {len(links)} != expected {len(expected)}")
    missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
    if missing or extra:
        errs.append(f"{len(missing)} expected spans unlinked, {len(extra)} unexpected spans linked")
    wrong = sum(1 for k, e in got.items() if k in expected and e not in expected[k])
    if wrong:
        errs.append(f"{wrong} links to an entity the span's alias cannot name")
    if library_f1 is not None and abs(library_f1 - f1_from_rows(links, labels)) > EPS:
        errs.append(f"evaluate.pairwise_f1 {library_f1:.6f} != F1 of the rows")
    return errs


# -- kb_scale -----------------------------------------------------------------

def char_wb_3grams(text: str) -> list[str]:
    out = []
    for w in text.lower().split():
        w = f" {w} "
        out.extend(w[i:i + 3] for i in range(len(w) - 2))
    return out


class AliasIndex:
    """TF-IDF (idf = ln((1+N)/(1+df)) + 1, L2-normalized rows) over the
    alias strings, with an inverted index for exact best-cosine lookup."""

    def __init__(self, aliases: list[str]):
        self.aliases = aliases
        self.pos = {a: i for i, a in enumerate(aliases)}
        docs = [Counter(char_wb_3grams(a)) for a in aliases]
        df = Counter(g for d in docs for g in d)
        n = len(aliases)
        self.idf = {g: math.log((1 + n) / (1 + c)) + 1 for g, c in df.items()}
        self.postings: dict[str, list[tuple[int, float]]] = {}
        for i, d in enumerate(docs):
            for g, w in self._norm(d).items():
                self.postings.setdefault(g, []).append((i, w))

    def _norm(self, tf: Counter) -> dict[str, float]:
        w = {g: c * self.idf[g] for g, c in tf.items() if g in self.idf}
        norm = math.sqrt(sum(x * x for x in w.values()))
        return {g: x / norm for g, x in w.items()} if norm else {}

    def scores(self, text: str) -> dict[int, float]:
        acc: dict[int, float] = {}
        for g, w in self._norm(Counter(char_wb_3grams(text))).items():
            for i, wa in self.postings.get(g, ()):
                acc[i] = acc.get(i, 0.0) + w * wa
        return acc


def check_kb_scale(links: list[dict], mentions: list[dict], alias_entities: dict[str, list[str]],
                   index: AliasIndex, labels: list[dict], library_f1: float | None,
                   f1_floor: float) -> list[str]:
    by_mid = {}
    errs = []
    for r in links:
        if r["mention_id"] in by_mid:
            errs.append(f"mention {r['mention_id']} linked twice")
        by_mid[r["mention_id"]] = r
    unlinked = outscored = wrong_entity = weak_rescue = 0
    for m in mentions:
        s = index.scores(m["text"])
        best = max(s.values(), default=0.0)
        r = by_mid.get(m["mention_id"])
        if r is None:
            unlinked += best > THRESHOLD + EPS
            continue
        if r["entity_id"] not in alias_entities.get(r["alias"], ()):
            wrong_entity += 1
        if best > THRESHOLD + EPS:
            mine = s.get(index.pos.get(r["alias"], -1), 0.0)
            if mine < best - EPS or abs(r["similarity"] - best) > 1e-6:
                outscored += 1
        elif r["similarity"] <= JW_THRESHOLD:
            weak_rescue += 1
    for n, what in ((unlinked, "mentions with a candidate above threshold left unlinked"),
                    (outscored, "links whose alias is outscored by another alias"),
                    (wrong_entity, "links to an entity the alias does not name"),
                    (weak_rescue, "rescued links at or below the Jaro-Winkler cut")):
        if n:
            errs.append(f"{n} {what}")
    f1 = f1_from_rows(links, labels)
    if f1 < f1_floor:
        errs.append(f"F1 {f1:.4f} below floor {f1_floor}")
    if library_f1 is not None and abs(library_f1 - f1) > EPS:
        errs.append(f"evaluate.pairwise_f1 {library_f1:.6f} != F1 of the rows {f1:.6f}")
    return errs


# -- serve and stream ---------------------------------------------------------

def check_same_links(name: str, got: dict, want: dict) -> list[str]:
    """Two surfaces must agree link for link (key -> entity id)."""
    if got == want:
        return []
    diff = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"{name}: {diff} of {len(want)} links differ from batch link_mentions"]


def self_test_same_links(name: str, got: dict, want: dict) -> list[str]:
    """check_same_links must reject `got` with one linked key dropped or
    its entity altered."""
    k = next((k for k, v in want.items() if v is not None), None)
    if k is None:
        return [f"{name} self-test: no link to corrupt"]
    bad = [("dropped link", {kk: v for kk, v in got.items() if kk != k}),
           ("altered link", {**got, k: "not-an-entity"})]
    return [f"{name} self-test: {what} passed the check"
            for what, b in bad if not check_same_links(name, b, want)]


# -- self-test ----------------------------------------------------------------

def corruptions(links: list[dict], pick, other_entity: str) -> list[tuple[str, list[dict]]]:
    """(description, corrupted copy) pairs: the link `pick` selects is
    dropped, or its entity replaced by `other_entity`."""
    i = next(i for i, r in enumerate(links) if pick(r))
    dropped = links[:i] + links[i + 1:]
    altered = [dict(r) for r in links]
    altered[i]["entity_id"] = other_entity
    return [("dropped link", dropped), ("altered link", altered)]


def self_test(name: str, check, links: list[dict], pick, other_entity: str) -> list[str]:
    """Failure messages for every corruption `check` (rows -> failure
    messages) did not reject."""
    if not links or not any(pick(r) for r in links):
        return [f"{name} self-test: no link to corrupt"]
    return [
        f"{name} self-test: {what} passed the check"
        for what, bad in corruptions(links, pick, other_entity)
        if not check(bad)
    ]
