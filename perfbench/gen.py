"""Seeded input generator for the benchmark workloads.

Written with numpy, pyarrow and the standard library only — never with
``kgx_spark`` — so a change to the program cannot alter its own inputs.
The same (parameters, seed) always gives byte-identical files.

Each ``gen_*`` function writes the files the program reads into ``out_dir``
and returns the planted ground truth, which stays in the benchmark's memory
and is never shown to the program.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_URL_PREFIX = "https://corpus.example.org/page/"

# relation phrase -> Biolink predicate, as the pattern extractor maps them
FACT_PHRASES = {
    "is related to": "biolink:related_to",
    "interacts with": "biolink:interacts_with",
    "is a": "biolink:subclass_of",
    "part of": "biolink:part_of",
    "causes": "biolink:causes",
    "treats": "biolink:treats",
}
MENTIONS = "biolink:mentions"

_HTML_HEAD = (
    "<html><head><title>page {i}</title><script>var t={i};</script>"
    "<style>.c{{color:#333}}</style></head><body>"
    '<nav class="menu">Home | Archive | Contact</nav><p>'
)
_HTML_FOOT = "</p><footer>&copy; 2026 Example Corp</footer></body></html>"

# (id prefix, category) pairs that the Biolink model and its JSON-LD
# context both know
QC_KINDS = [
    ("HGNC", "biolink:Gene"),
    ("MONDO", "biolink:Disease"),
    ("CHEBI", "biolink:ChemicalEntity"),
    ("UniProtKB", "biolink:Protein"),
    ("GO", "biolink:BiologicalProcess"),
]
QC_PREDICATES = [
    "biolink:related_to",
    "biolink:interacts_with",
    "biolink:treats",
    "biolink:causes",
    "biolink:part_of",
]
QC_SOURCES = ["infores:alpha", "infores:beta", "infores:gamma"]


def load_params(path: str | None = None) -> dict:
    path = path or os.path.join(os.path.dirname(os.path.abspath(__file__)), "params.json")
    with open(path) as fh:
        return json.load(fh)


def _words(rng: np.random.Generator, n: int, letters: str, lo: int, hi: int) -> list[str]:
    """n distinct random words over ``letters``, lengths in [lo, hi]."""
    alphabet = np.array(list(letters))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(alphabet[rng.integers(0, len(alphabet), rng.integers(lo, hi + 1))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_choice(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """Bounded Zipf draw over a random permutation of range(n)."""
    p = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=size, p=p / p.sum())
    return rng.permutation(n)[ranks]


def _tsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as fh:
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(r) + "\n")


def _jsonl(path: str, records: list[dict]) -> None:
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r, sort_keys=True) + "\n")


# --------------------------------------------------------------------------
# web_kg_build


@dataclass
class WebTruth:
    """Canonical (s, p, o) set the pipeline should emit."""

    expected: set[tuple[str, str, str]] = field(default_factory=set)


def alias_prior(partkey: int) -> float:
    """The alias-dictionary prior the program derives from a part key."""
    return 1.0 / (1.0 + partkey % 7)


def gen_web(p: dict, seed: int, out_dir: str) -> WebTruth:
    """pages.parquet (url, warc_ts, html, text, lang) + part.parquet
    (p_partkey, p_name). Facts are Zipf-skewed on subject, repeat across
    pages and name clique members by any of their ``clique_depth`` ids."""
    rng = np.random.default_rng([seed, 101])
    os.makedirs(out_dir, exist_ok=True)
    n_pages, n_ent = p["pages"], p["entities"]
    depth = p["clique_depth"]
    prefixes = ["P", "Q", "R", "T", "U"][:depth]
    filler = _words(rng, p["filler_vocab"], "abcdefghijklm", 3, 9)
    # alias tokens use disjoint letters, so filler never forms an alias
    alias_tok = _words(rng, 2 * n_ent, "nopqrstuvwxyz", 4, 7)
    in_clique = rng.random(n_ent) < p["clique_fraction"]

    page_sent: list[list[str]] = [[] for _ in range(n_pages)]
    truth = WebTruth()

    def surface(k: int) -> str:
        pre = prefixes[rng.integers(0, depth)] if in_clique[k] else "P"
        return f"{pre}:{k}"

    # planted facts: canonical (subject entity, phrase, object) triples
    phrases = list(FACT_PHRASES)
    subj = _zipf_choice(rng, n_ent, p["zipf_exponent"], p["facts"])
    # (subject entity, phrase, object is an entity, object key)
    facts: set[tuple[int, str, bool, int]] = set()
    for s in subj.tolist():
        is_entity = bool(rng.random() < p["entity_object_share"])
        o = int(rng.integers(0, n_ent if is_entity else p["suppliers"]))
        if not (is_entity and o == s):
            facts.add((s, phrases[rng.integers(0, len(phrases))], is_entity, o))
    for s, phrase, is_entity, o in sorted(facts):
        o_canon = f"P:{o}" if is_entity else f"S:{o}"
        truth.expected.add((f"P:{s}", FACT_PHRASES[phrase], o_canon))
        repeats = 1 + int(rng.poisson(p["fact_repeat_mean"] - 1.0))
        for page in rng.integers(0, n_pages, repeats).tolist():
            o_surf = surface(o) if is_entity else o_canon
            page_sent[page].append(f"{surface(s)} {phrase} {o_surf}.")

    # same_as chains: each clique member points at the previous id
    for k in np.flatnonzero(in_clique).tolist():
        page = int(rng.integers(0, n_pages))
        for d in range(1, depth):
            page_sent[page].append(f"{prefixes[d]}:{k} same as {prefixes[d - 1]}:{k}.")

    # aliases: one two-token name per entity; a share are shared by two
    # entities, and the higher prior (then the smaller curie) wins
    names = [f"{alias_tok[2 * k]} {alias_tok[2 * k + 1]}" for k in range(n_ent)]
    n_amb = int(p["ambiguous_alias_share"] * n_ent) // 2
    pairs = rng.permutation(n_ent)[: 2 * n_amb].reshape(-1, 2)
    for a, b in pairs.tolist():
        names[b] = names[a]
    winner: dict[str, tuple[float, str]] = {}
    for k in range(n_ent):
        cand = (-alias_prior(k), f"P:{k}")
        cur = winner.get(names[k])
        if cur is None or cand < cur:
            winner[names[k]] = cand
    mention_counts = rng.poisson(p["mentions_per_page"], n_pages)
    targets = _zipf_choice(rng, n_ent, p["zipf_exponent"], int(mention_counts.sum()))
    i = 0
    for page, m in enumerate(mention_counts.tolist()):
        for k in targets[i : i + m].tolist():
            page_sent[page].append(f"the part {names[k]} is mentioned here.")
            truth.expected.add((f"url:{PAGE_URL_PREFIX}{page}", MENTIONS, winner[names[k]][1]))
        i += m

    urls, html, text = [], [], []
    fw = p["filler_words_per_sentence"]
    for page in range(n_pages):
        sents = page_sent[page]
        for _ in range(p["filler_sentences_per_page"]):
            words = [filler[j] for j in rng.integers(0, len(filler), fw).tolist()]
            words[len(words) // 2] = "&amp;" if rng.random() < 0.2 else words[len(words) // 2]
            sents.append(" ".join(words) + ".")
        order = rng.permutation(len(sents)).tolist()
        body = " ".join(sents[j] for j in order)
        urls.append(f"{PAGE_URL_PREFIX}{page}")
        html.append((_HTML_HEAD.format(i=page) + body + _HTML_FOOT).encode())
        text.append(body.replace("&amp;", "&"))
    pages = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                (1735689600 + np.arange(n_pages, dtype=np.int64)) * 1_000_000,
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * n_pages, pa.string()),
        }
    )
    pq.write_table(pages, os.path.join(out_dir, "pages.parquet"))
    parts = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_ent, dtype=np.int64)),
            "p_name": pa.array(names, pa.string()),
        }
    )
    pq.write_table(parts, os.path.join(out_dir, "part.parquet"))
    return truth


# --------------------------------------------------------------------------
# kgx_merge_qc


@dataclass
class MergeQcTruth:
    n_nodes: int
    edges: set[tuple[str, str, str]]
    # id -> name the merge keeps (the first source's), id -> long-tail value
    names: dict[str, str]
    notes: dict[str, str]
    # (s, p, o) -> merged provided_by cell
    edge_provenance: dict[tuple[str, str, str], str]
    # validation of the merged graph: planted (error_type, entity) pairs
    errors: set[tuple[str, str]]
    error_counts: dict[str, int]
    missing_category: int
    predicate_counts: dict[str, int]
    long_tail_column: str = "b_note"


def gen_merge_qc(p: dict, seed: int, out_dir: str) -> MergeQcTruth:
    """Source a: KGX TSV (a/a_nodes.tsv, a/a_edges.tsv); source b: KGX JSONL
    (b/b_nodes.jsonl, b/b_edges.jsonl).

    The sources share about half their nodes (conflicting names) and half
    their edges (same s-p-o, different provided_by); only b carries the
    long-tail ``b_note`` column. Planted faults survive the merge: non-CURIE
    and unknown-prefix node ids, nodes without a category (source a only),
    unknown predicates, non-CURIE edge subjects, unknown-prefix objects."""
    rng = np.random.default_rng([seed, 202])
    a_dir, b_dir = os.path.join(out_dir, "a"), os.path.join(out_dir, "b")
    os.makedirs(a_dir, exist_ok=True)
    os.makedirs(b_dir, exist_ok=True)
    n = p["nodes"]
    kind = rng.integers(0, len(QC_KINDS), n).tolist()
    r = rng.random(n)
    # 0 = a only, 1 = b only, 2 = both
    side = np.where(r < p["node_overlap"], 2, np.where(r < (1 + p["node_overlap"]) / 2, 0, 1))
    f = rng.random(n)
    c1 = p["non_curie_node_share"]
    c2 = c1 + p["unknown_prefix_node_share"]
    errors: set[tuple[str, str]] = set()
    ids, clean = [], []
    for i in range(n):
        if f[i] < c1:
            ids.append(f"badnode{i}")
            errors.add(("INVALID_NODE_PROPERTY_VALUE", ids[-1]))
        elif f[i] < c2:
            ids.append(f"ZZQX:{i}")
            errors.add(("INVALID_NODE_PROPERTY_VALUE", ids[-1]))
        else:
            ids.append(f"{QC_KINDS[kind[i]][0]}:{i}")
            clean.append(ids[-1])
    missing = 0
    a_nodes, b_nodes = [], []
    names: dict[str, str] = {}
    notes: dict[str, str] = {}
    for i in range(n):
        cat = QC_KINDS[kind[i]][1]
        if side[i] in (0, 2):
            if side[i] == 0 and rng.random() < p["missing_category_share"]:
                cat = ""
                missing += 1
            a_nodes.append([ids[i], cat, f"entity {i}", "infores:src-a"])
            names[ids[i]] = f"entity {i}"
        if side[i] in (1, 2):
            b_nodes.append(
                {"id": ids[i], "category": [cat], "name": f"Entity-{i} (b)",
                 "provided_by": ["infores:src-b"], "b_note": f"note{i}"}
            )
            names.setdefault(ids[i], f"Entity-{i} (b)")
            notes[ids[i]] = f"note{i}"

    e1 = p["unknown_predicate_share"]
    e2 = e1 + p["non_curie_subject_share"]
    e3 = e2 + p["unknown_prefix_object_share"]
    n_faulty = [0]

    def draw_edges(count: int, avoid: set) -> list[tuple[str, str, str]]:
        out: list[tuple[str, str, str]] = []
        seen = set(avoid)
        while len(out) < count:
            s, o = (clean[j] for j in rng.integers(0, len(clean), 2).tolist())
            pred = QC_PREDICATES[rng.integers(0, len(QC_PREDICATES))]
            x = rng.random()
            if x < e1:
                pred = "biolink:frobnicates_with"
            elif x < e2:
                s = f"badsubj{n_faulty[0]}"
            elif x < e3:
                o = f"ZZQX:o{n_faulty[0]}"
            n_faulty[0] += x < e3
            e = (s, pred, o)
            if s != o and e not in seen:
                seen.add(e)
                out.append(e)
        return out

    m = p["edges_per_source"]
    ea = draw_edges(m, set())
    n_shared = int(p["edge_overlap"] * m)
    eb = [ea[j] for j in sorted(rng.choice(m, n_shared, replace=False).tolist())]
    eb += draw_edges(m - n_shared, set(ea))

    def pubs() -> str:
        if rng.random() >= p["publication_share"]:
            return ""
        return "|".join(f"PMID:{x}" for x in sorted(rng.integers(1, 10**6, 2).tolist()))

    ks, pks = "infores:kgx-bench", "infores:kgx-bench-primary"
    _tsv(os.path.join(a_dir, "a_nodes.tsv"), ["id", "category", "name", "provided_by"], a_nodes)
    _tsv(
        os.path.join(a_dir, "a_edges.tsv"),
        ["subject", "predicate", "object", "provided_by", "knowledge_source",
         "primary_knowledge_source", "publications"],
        [[s, pr, o, "infores:src-a", ks, pks, pubs()] for s, pr, o in ea],
    )
    _jsonl(os.path.join(b_dir, "b_nodes.jsonl"), b_nodes)
    _jsonl(
        os.path.join(b_dir, "b_edges.jsonl"),
        [{"subject": s, "predicate": pr, "object": o, "provided_by": ["infores:src-b"],
          "knowledge_source": ks, "primary_knowledge_source": pks} for s, pr, o in eb],
    )
    prov = {e: "infores:src-a" for e in ea}
    for e in eb:
        prov[e] = "infores:src-a|infores:src-b" if e in prov else "infores:src-b"
    pred_counts: dict[str, int] = {}
    for s, pr, o in prov:
        pred_counts[pr] = pred_counts.get(pr, 0) + 1
        if pr == "biolink:frobnicates_with":
            errors.add(("INVALID_EDGE_PREDICATE", f"{s}->{o}"))
        elif s.startswith("badsubj") or o.startswith("ZZQX:"):
            errors.add(("INVALID_EDGE_PROPERTY_VALUE", f"{s}->{o}"))
    counts: dict[str, int] = {}
    for etype, _ in errors:
        counts[etype] = counts.get(etype, 0) + 1
    return MergeQcTruth(
        n_nodes=n, edges=set(prov), names=names, notes=notes, edge_provenance=prov,
        errors=errors, error_counts=counts, missing_category=missing,
        predicate_counts=pred_counts,
    )


GENERATORS = {"web_kg_build": gen_web, "kgx_merge_qc": gen_merge_qc}
