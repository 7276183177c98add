"""Seeded transcript corpora for the benchmark workloads.

Both generators build rows in Python from ``random.Random(seed)`` and hand
the program a DataFrame with the transcripts schema, so the same seed gives
the same inputs. Fact sentences reuse ``trustgraph_spark.synth``'s
vocabularies and filler lines, and the expected content triples come from
``synth.golden_triples_for_text``, so every seed keeps golden parity.

- ``planted_corpus``: synth's shape. A 12-entity planted vocabulary and one
  hot conversation with ``hot_factor`` times the usual turn count. The
  content graph is tiny and provenance dominates; linking merges nothing.
- ``linked_corpus``: thousands of Zipf-skewed entity names. A share of the
  names also appear as surface variants (``Quartz_Harbor 17``,
  ``Quartz  Harbor 17``) that mint different URIs but normalize to the same
  name, so blocking, trigram scoring and connected components do real work.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass
from itertools import accumulate

from trustgraph_spark.constants import OTYPE_LITERAL, OTYPE_URI, RDF_LABEL
from trustgraph_spark.synth import (
    DEFINITIONS,
    ENTITIES,
    FILLERS,
    LITERAL_VALUES,
    NO_FACT_TEXTS,
    REL_VERBS,
    ROLES,
    golden_triples_for_text,
)
from trustgraph_spark.uris import normalize_entity_name_py

_SENTENCE_END = re.compile(r"(?<=\.) ")
_FACT = re.compile(r" (?:is defined as|uses|contains|extends|produces value) ")

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

# Name parts for the linked corpus: distinct 4-letter prefixes, no dots and
# none of the extraction phrases ("uses", "contains", "extends",
# "is defined as", "produces value").
FIRST_WORDS = [
    "Quartz", "Amber", "Cobalt", "Delta", "Ember", "Falcon", "Garnet",
    "Harbor", "Indigo", "Juniper", "Kestrel", "Lumen", "Marble", "Nimbus",
    "Onyx", "Pepper", "Quill", "Raven", "Sable", "Tundra", "Umber",
    "Velvet", "Willow", "Xenon", "Yarrow", "Zephyr", "Basalt", "Cedar",
    "Dune", "Fjord", "Glacier", "Hazel", "Iris", "Jasper", "Kelp", "Lotus",
]
SECOND_WORDS = [
    "Harbor", "Ridge", "Engine", "Ledger", "Beacon", "Vault", "Bridge",
    "Canyon", "Forge", "Garden", "Portal", "Summit", "Tower", "Valley",
    "Anchor", "Circuit", "Mesa", "Orbit", "Prism", "Quarry",
]


@dataclass
class Corpus:
    """Generated transcripts and their entity names, hottest first (the
    Zipf order of the corpus)."""

    rows: list[tuple]
    hot_entities: list[str]

    @property
    def turns(self) -> int:
        return len(self.rows)

    @property
    def text_bytes(self) -> int:
        return sum(len(r[3].encode("utf-8")) for r in self.rows)

    def golden(self) -> set[tuple[str, str, str, str]]:
        """Expected content triples: synth's golden derivation, applied per
        sentence. Its patterns cannot cross a '.', so this equals applying
        it to whole turns, without the backtracking over filler text."""
        out: set = set()
        for row in self.rows:
            for sentence in _SENTENCE_END.split(row[3]):
                if _FACT.search(sentence):
                    out.update(golden_triples_for_text(sentence))
        return out

    def dataframe(self, spark):
        import pandas as pd

        cols = [c.split()[0] for c in SCHEMA.split(", ")]
        return spark.createDataFrame(pd.DataFrame(self.rows, columns=cols), SCHEMA)


def _turn_rows(texts_by_conv: list[list[str]], rng: random.Random) -> list[tuple]:
    t0 = dt.datetime(2023, 11, 14, 22, 13, 20)
    rows = []
    for c, texts in enumerate(texts_by_conv):
        conv_id = f"conv-{c:05d}"
        for i, text in enumerate(texts):
            role = rng.choice(ROLES)
            tool = "search" if role == "tool" else ""
            rows.append((conv_id, i, role, text, tool, t0 + dt.timedelta(minutes=i)))
    return rows


def _wrap(rng: random.Random, core: str) -> str:
    a, b, c = (rng.choice(FILLERS) for _ in range(3))
    return f"{a} {core} {b} {c}"


def _turn_text(rng: random.Random, pick) -> str:
    """synth's template mix: 30% definition, 30% relationship, 10% literal
    relationship, 20% no fact, 10% definition + relationship."""
    t = rng.randrange(10)
    if 7 <= t < 9:
        return rng.choice(NO_FACT_TEXTS)

    def definition():
        return f"{pick()} is defined as {rng.choice(DEFINITIONS)}."

    def relation():
        return f"{pick()} {rng.choice(REL_VERBS)} {pick()}."

    if t < 3:
        core = definition()
    elif t < 6:
        core = relation()
    elif t < 7:
        core = f"{pick()} produces value {rng.choice(LITERAL_VALUES)}."
    else:
        core = f"{definition()} {relation()}"
    return _wrap(rng, core)


def planted_corpus(seed: int, n_convs: int, turns_per_conv: int, hot_factor: int) -> Corpus:
    rng = random.Random(seed)
    # seeded popularity order over the planted vocabulary
    order = rng.sample(ENTITIES, len(ENTITIES))
    weights = [1.0 / (r + 1) for r in range(len(order))]

    def pick():
        return rng.choices(order, weights)[0]

    sizes = [hot_factor * turns_per_conv] + [turns_per_conv] * (n_convs - 1)
    texts = [[_turn_text(rng, pick) for _ in range(n)] for n in sizes]
    return Corpus(_turn_rows(texts, rng), order)


def _variants(name: str) -> list[str]:
    first, rest = name.split(" ", 1)
    return [f"{first}_{rest}", f"{first}  {rest}"]


def linked_corpus(
    seed: int, n_convs: int, turns_per_conv: int, n_names: int, variant_share: float
) -> Corpus:
    rng = random.Random(seed)
    pool = [f"{a} {b} {n}" for a in FIRST_WORDS for b in SECOND_WORDS for n in range(1, 100)]
    names = rng.sample(pool, n_names)  # Zipf rank order: names[0] is hottest
    forms = {
        n: [n] + _variants(n)[: rng.randint(1, 2)]
        for n in names
        if rng.random() < variant_share
    }
    weights = [1.0 / (r + 1) ** 1.05 for r in range(n_names)]
    cum = list(accumulate(weights))

    def pick():
        name = rng.choices(names, cum_weights=cum)[0]
        return rng.choice(forms[name]) if name in forms else name

    texts = [[_turn_text(rng, pick) for _ in range(turns_per_conv)] for _ in range(n_convs)]
    return Corpus(_turn_rows(texts, rng), names)


def expected_mapping(golden: set) -> dict[str, str]:
    """Independent linking oracle: URIs whose labels share a normalized
    name form one entity, canonicalized to the minimum URI. Returns only
    the URIs that change."""
    groups: dict[str, set[str]] = {}
    for s, p, o, otype in golden:
        if p == RDF_LABEL and otype == OTYPE_LITERAL:
            groups.setdefault(normalize_entity_name_py(o), set()).add(s)
    out = {}
    for uris in groups.values():
        canon = min(uris)
        out.update({u: canon for u in uris if u != canon})
    return out


def canonicalize(golden: set, mapping: dict[str, str]) -> set:
    """Rewrite subjects, and URI objects, through the mapping."""
    return {
        (mapping.get(s, s), p, mapping.get(o, o) if otype == OTYPE_URI else o, otype)
        for s, p, o, otype in golden
    }
