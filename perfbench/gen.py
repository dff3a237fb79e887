"""Seeded input generator for the benchmark.

Everything the package sees is made here from ``--seed`` and nothing
else: wide ASCT+B sheets, the ontology fixture, raw-label sets, the
small-call label lists and the planted-duplicate corpus. The same seed
gives the same bytes; ``digest`` hashes the generated values so a run
record shows it.

Label variants are built so that the package's full cleaner maps them to
the cleaned ``CT_NAME`` they came from, without the benchmark running the
cleaner itself:

- ``exact``: the name upper- or title-cased (the cleaner lowercases);
- ``plural``: trailing ``cell`` -> ``cells`` (the cleaner strips a
  trailing ``s`` from every word);
- ``numeric``: a number word 1-19 written as digits (the cleaner spells
  digits out; 20+ would hyphenate and not round-trip);
- ``contraction``: ``can't`` in the name, ``cannot`` in the label (the
  cleaner expands ``can't`` to ``cannot``).

Non-matching labels carry a word from ``_NONCE`` that no CT name uses, so
they can never clean to a reference name.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

CT_LEVELS = 10
AS_LEVELS = 3
UNKNOWN_CT_ID = "ASCTB CT_ID UNK"  # the package's sentinel for a missing CT id

_ADJ = (
    "basal luminal ciliated secretory goblet club alveolar capillary arterial "
    "venous lymphatic stromal mesangial podocyte cortical medullary ductal "
    "acinar islet beta delta gamma mucous serous myoepithelial smooth cardiac "
    "skeletal enteric glial neural sensory motor inhibitory excitatory "
    "granular fibrous elastic resident circulating naive memory effector "
    "regulatory cytotoxic helper plasma dendritic mast tuft microfold paneth "
    "chief parietal oxyntic hepatic biliary renal tubular collecting distal "
    "proximal ascending descending papillary reticular germinal follicular"
).split()
_NOUN = (
    "epithelial endothelial fibroblast pericyte macrophage monocyte "
    "neutrophil eosinophil basophil lymphoid myeloid progenitor stem "
    "precursor mesothelial keratinocyte melanocyte adipocyte chondrocyte "
    "osteoblast myocyte neuron astrocyte oligodendrocyte ependymal "
    "hepatocyte cholangiocyte enterocyte colonocyte erythroid"
).split()
_VERB = "divide migrate secrete contract proliferate differentiate".split()
_NUM_WORDS = (
    "one two three four five six seven eight nine ten eleven twelve thirteen "
    "fourteen fifteen sixteen seventeen eighteen nineteen"
).split()
_NONCE = "putative candidate unresolved ambiguous provisional uncharted".split()
_ORGANS = (
    "kidney lung heart liver spleen pancreas skin brain bone_marrow thymus "
    "lymph_node eye ureter bladder prostate uterus ovary intestine colon "
    "placenta stomach esophagus trachea tonsil blood_vasculature"
).split()
_DOC_WORDS = [f"w{i}" for i in range(4000)]  # 2-5 letters: lengths vary
SOURCES = ("azimuth", "celltypist", "popv")


@dataclass
class CT:
    ct_id: str | None
    name: str
    label: str
    kind: str  # plain | numeric | contraction


@dataclass
class Sheet:
    columns: list[str]
    rows: list[tuple]
    cts: list[CT]
    # distinct (CT_ID, CT_NAME, CT_LABEL) triplets the unpivot must return
    expected_triplets: set = field(default_factory=set)
    fixture: list[tuple] = field(default_factory=list)
    fixture_ids: int = 0
    distinct_ids: int = 0


def digest(obj) -> str:
    """sha256 over a canonical JSON rendering of generated values."""
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=list).encode("utf-8")
    ).hexdigest()[:16]


def _ct_names(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """``n`` distinct CT names with their template kind; ~8% numeric,
    ~4% contraction, the rest plain."""
    seen: set[str] = set()
    out: list[tuple[str, str]] = []
    while len(out) < n:
        r = rng.random()
        if r < 0.08:
            name = f"type {rng.choice(_NUM_WORDS)} {rng.choice(_ADJ)} {rng.choice(_NOUN)} cell"
            kind = "numeric"
        elif r < 0.12:
            name = f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} cell that can't {rng.choice(_VERB)}"
            kind = "contraction"
        else:
            name = f"{rng.choice(_ADJ)} {rng.choice(_ADJ)} {rng.choice(_NOUN)} cell"
            kind = "plain"
        if name not in seen:
            seen.add(name)
            out.append((name, kind))
    return out


def make_sheet(
    rng: random.Random, n_cts: int, n_organs: int, rows_per_organ: int
) -> Sheet:
    """A stacked multi-organ wide sheet holding exactly ``n_cts`` CT
    entries. ~3% of the plain names get a twin CT (other id) spelled with
    ``cells``, so cleaned names collide and the exact overwrite must pick
    the minimum CT_ID; ~2% of CTs carry no ontology id."""
    names = _ct_names(rng, n_cts)
    cts: list[CT] = []
    ids = rng.sample(range(1, 9_000_000), n_cts)
    for (name, kind), num in zip(names, ids):
        ct_id = None if rng.random() < 0.02 else f"CL:{num:07d}"
        cts.append(CT(ct_id, name, f"{name} (CL label)", kind))
    # plural twins replace the tail of the pool, keeping its size exact
    n_twins = n_cts * 3 // 100
    plain = [c for c in cts[: n_cts - n_twins] if c.kind == "plain" and c.ct_id]
    for i, base in enumerate(rng.sample(plain, min(n_twins, len(plain)))):
        twin_id = f"CL:{rng.randrange(1, 9_000_000):07d}"
        cts[n_cts - 1 - i] = CT(twin_id, base.name + "s", base.label, "plain")

    columns = []
    for lv in range(1, AS_LEVELS + 1):
        columns += [f"AS/{lv}", f"AS/{lv}/ID", f"AS/{lv}/LABEL"]
    for lv in range(1, CT_LEVELS + 1):
        columns += [f"CT/{lv}", f"CT/{lv}/ID", f"CT/{lv}/LABEL"]
    columns += ["BGene/1", "BGene/1/ID"]

    n_rows = n_organs * rows_per_organ
    # every CT is placed once, then the remaining cells repeat CTs with a
    # skewed (squared-uniform) choice — heavy repetition, as in real sheets
    order = list(range(n_cts))
    rng.shuffle(order)
    rows: list[tuple] = []
    triplets: set = set()
    k = 0
    for r in range(n_rows):
        organ = _ORGANS[(r // rows_per_organ) % len(_ORGANS)]
        row: list = []
        for lv in range(1, AS_LEVELS + 1):
            row += [f"{organ} part {lv}", f"UBERON:{rng.randrange(10**7):07d}", organ]
        depth = rng.randint(1, CT_LEVELS)
        for lv in range(1, CT_LEVELS + 1):
            if lv > depth:
                row += [None, None, None]
                continue
            if k < n_cts:
                ct = cts[order[k]]
                k += 1
            else:
                ct = cts[int(rng.random() ** 2 * n_cts)]
            row += [ct.name, ct.ct_id, ct.label]
            # the package's strict LABEL regex drops CT/10/LABEL
            label = ct.label if lv < 10 else None
            triplets.add((ct.ct_id or UNKNOWN_CT_ID, ct.name, label))
        row += [f"GENE{rng.randrange(500)}", f"HGNC:{rng.randrange(10**5)}"]
        rows.append(tuple(row))
    if k < n_cts:
        raise ValueError("sheet too small to place every CT once")

    distinct_ids = sorted({c.ct_id for c in cts if c.ct_id})
    covered = [i for i in distinct_ids if rng.random() < 0.9]
    fixture = [
        (
            i.replace(":", "_"),
            f"A {rng.choice(_ADJ)} cell of the {rng.choice(_ORGANS)} that "
            f"expresses {rng.choice(_NOUN)} markers",
        )
        for i in covered
    ]
    return Sheet(columns, rows, cts, triplets, fixture, len(covered), len(distinct_ids))


@dataclass
class Label:
    source: str
    text: str
    kind: str  # exact | plural | numeric | contraction | nomatch
    ct: CT | None  # the CT an exact-class label was derived from


def _variant(rng: random.Random, ct: CT) -> tuple[str, str]:
    if ct.kind == "numeric" and rng.random() < 0.7:
        words = ct.name.split()
        words[1] = str(_NUM_WORDS.index(words[1]) + 1)
        return " ".join(words), "numeric"
    if ct.kind == "contraction" and rng.random() < 0.7:
        return ct.name.replace("can't", "cannot"), "contraction"
    if ct.name.endswith(" cell") and rng.random() < 0.35:
        return ct.name + "s", "plural"
    return (ct.name.upper() if rng.random() < 0.5 else ct.name.title()), "exact"


def make_labels(
    rng: random.Random, cts: list[CT], n_rows: int, repeat_share: float = 0.3,
    match_share: float = 0.35,
) -> list[Label]:
    """``n_rows`` (source, raw label) rows of which exactly
    ``round(n_rows * repeat_share)`` repeat an earlier row, and exactly
    ``round(distinct * match_share)`` of the distinct ones clean to a
    reference CT_NAME (case, plural, numeric or contraction variants).
    Counts are fixed so every seed gives the same amount of work."""
    n_repeat = round(n_rows * repeat_share)
    n_distinct = n_rows - n_repeat
    n_match = round(n_distinct * match_share)
    kinds = [True] * n_match + [False] * (n_distinct - n_match)
    rng.shuffle(kinds)
    pool = [c for c in cts if c.kind != "plain"] * 4 + cts
    distinct: list[Label] = []
    seen: set = set()
    for i, is_match in enumerate(kinds):
        while True:
            src = rng.choice(SOURCES)
            if is_match:
                ct = rng.choice(pool)
                text, kind = _variant(rng, ct)
            else:
                ct, kind = None, "nomatch"
                text = (
                    f"{rng.choice(_NONCE)} {rng.choice(_ADJ)} {rng.choice(_NOUN)} "
                    f"cell {rng.choice(_ADJ)} {i}"
                )
            if (src, text) not in seen:
                break
        seen.add((src, text))
        distinct.append(Label(src, text, kind, ct))
    # repeats go at random positions after the first row, each a copy of
    # a row that comes before it
    out = list(distinct)
    for pos in sorted(rng.sample(range(1, n_rows), n_repeat)):
        out.insert(pos, out[rng.randrange(pos)])
    return out


def label_properties(labels: list[Label]) -> dict:
    distinct = {(x.source, x.text): x for x in labels}
    kinds: dict[str, int] = {}
    for x in distinct.values():
        kinds[x.kind] = kinds.get(x.kind, 0) + 1
    n = max(1, len(distinct))
    return {
        "rows": len(labels),
        "distinct": len(distinct),
        "repeat_share": round(1 - len(distinct) / max(1, len(labels)), 4),
        **{f"{k}_share": round(v / n, 4) for k, v in sorted(kinds.items())},
    }


# Small-call list sizes, the same for every seed. With C~1030 references
# at dim 768 the package's EXACT_FLOP_BUDGET (1e8 = q*C*d) puts the
# join/blocked crossover at ~126 distinct labels; lists are 70% distinct,
# so 64 routes to the join rung and 1024 to the blocked rung.
CALL_SIZES = (64, 1024)


@dataclass
class Corpus:
    docs: list[tuple[int, str, int]]  # (doc_id, text, n_chars)
    groups: list[list[int]]  # planted near-duplicate groups (size >= 2)


def make_corpus(
    rng: random.Random, n_docs: int, n_groups: int, doc_words: int = 60
) -> Corpus:
    """Random-word documents plus ``n_groups`` planted groups of 2, 3 or 4
    near-copies of a base text, each copy with one word substituted
    (3-shingle Jaccard ~0.9 within a group, above the package's 0.7
    verification threshold; unrelated documents share almost no
    shingles)."""
    texts: list[str] = []
    groups: list[list[int]] = []
    for g in range(n_groups):
        base = [rng.choice(_DOC_WORDS) for _ in range(doc_words)]
        members = []
        for _ in range(2 + g % 3):
            words = list(base)
            words[rng.randrange(doc_words)] = rng.choice(_DOC_WORDS)
            members.append(len(texts))
            texts.append(" ".join(words))
        groups.append(members)
    while len(texts) < n_docs:
        texts.append(" ".join(rng.choice(_DOC_WORDS) for _ in range(doc_words)))
    # shuffle ids so planted groups are not contiguous
    perm = list(range(len(texts)))
    rng.shuffle(perm)
    docs = [(perm[i], t, len(t)) for i, t in enumerate(texts)]
    docs.sort()
    groups = [sorted(perm[m] for m in g) for g in groups]
    return Corpus(docs, groups)
