"""Seeded input corpora and the closed-form answers they imply.

Each generator is a pure function of (seed, size): the same seed gives the
same rows. Rows use the package's source-table shape
(repo, path, commit, lang, content); the expectations are derived from
how each row was built, never from running the pipeline.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

EX = "http://example.com/ns#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"

# (format, lang column, path extension)
FORMATS = [
    ("turtle", "turtle", "ttl"),
    ("ntriples", "ntriples", "nt"),
    ("rdfxml", "rdfxml", "rdf"),
    ("jsonld", "jsonld", "jsonld"),
    ("jsonld_scoped", "jsonld", "jsonld"),
]

# Page kinds and their share of the corpus; every share but "ok" violates
# the reference application profile in one way.
KINDS = [("ok", 0.7), ("pattern", 0.1), ("max_count", 0.1), ("closed_class", 0.1)]

# Per page kind under the reference application profile
# (sources/synthetic.py APPLICATION_PROFILE):
# (conforms, violations, valid triples, error triples, report triples).
# A report holds 2 header triples per non-conforming doc plus, per
# violation, 7 fixed triples + resultPath + value when present:
#   pattern      -> 1 violation with path and value         -> 9 + 2
#   max_count    -> 1 violation with path, no value          -> 8 + 2
#   closed_class -> closed (ex:hobby) + class (ex:worksFor),
#                   both with path and value                 -> 18 + 2
PAGE_EXPECT = {
    "ok": (True, 0, 2, 0, 0),
    "pattern": (False, 1, 1, 1, 11),
    "max_count": (False, 1, 1, 2, 10),
    "closed_class": (False, 2, 2, 2, 20),
}


def doc_id_hex(repo: str, path: str, commit: str) -> str:
    """The package's doc id (plans.pipeline.add_doc_id) as lowercase hex."""
    return hashlib.sha256("\x1f".join((repo, path, commit)).encode()).hexdigest()


def _ssn(k: int) -> str:
    """A pattern-valid ssn, injective in k for k < 10**9."""
    return "%03d-%02d-%04d" % (k % 1000, (k // 1000) % 100, (k // 100000) % 10000)


def _source_row(seed: int, tag: str, i: int, lang: str, ext: str, content: str):
    repo = f"repo{i % 16}"
    path = f"data/{tag}/d{i}.{ext}"
    commit = hashlib.sha1(f"{tag}:{seed}:{i}".encode()).hexdigest()
    return (repo, path, commit, lang, content)


def _page_content(fmt: str, i: int, kind: str, ssn: str, ssn2: str) -> str:
    """One person page in the given format; `kind` decides the violation."""
    person = f"{EX}P{i}"
    ssns = [ssn + "X"] if kind == "pattern" else [ssn]
    if kind == "max_count":
        ssns.append(ssn2)
    extra = kind == "closed_class"
    if fmt == "turtle":
        body = ", ".join(f'"{s}"' for s in ssns)
        more = ' ;\n  ex:hobby "x" ;\n  ex:worksFor ex:NoSuchCompany' if extra else ""
        return (f"@prefix ex: <{EX}> .\nex:P{i} a ex:Person ;\n"
                f"  ex:ssn {body}{more} .\n")
    if fmt == "ntriples":
        lines = [f"<{person}> <{RDF_TYPE}> <{EX}Person> ."]
        lines += [f'<{person}> <{EX}ssn> "{s}" .' for s in ssns]
        if extra:
            lines += [f'<{person}> <{EX}hobby> "x" .',
                      f"<{person}> <{EX}worksFor> <{EX}NoSuchCompany> ."]
        return "\n".join(lines) + "\n"
    if fmt == "rdfxml":
        props = "".join(f"  <ex:ssn>{s}</ex:ssn>\n" for s in ssns)
        if extra:
            props += ("  <ex:hobby>x</ex:hobby>\n"
                      f'  <ex:worksFor rdf:resource="{EX}NoSuchCompany"/>\n')
        return ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
                f' xmlns:ex="{EX}">\n<ex:Person rdf:about="{person}">\n'
                f"{props}</ex:Person>\n</rdf:RDF>")
    ssn_json = (f'["{ssns[0]}", "{ssns[1]}"]' if len(ssns) == 2
                else f'"{ssns[0]}"')
    if fmt == "jsonld":
        more = (f', "{EX}hobby": "x", "{EX}worksFor": {{"@id": "{EX}NoSuchCompany"}}'
                if extra else "")
        return (f'{{"@id": "{person}", "@type": "{EX}Person", '
                f'"{EX}ssn": {ssn_json}{more}}}')
    # JSON-LD with a root prefix context and a scoped context on the member
    more = ', "ex:hobby": "x", "ex:worksFor": {"@id": "ex:NoSuchCompany"}' if extra else ""
    return (f'{{"@context": {{"ex": "{EX}"}}, "@graph": [{{"@context": '
            f'{{"ssn": {{"@id": "{EX}ssn"}}}}, "@id": "ex:P{i}", '
            f'"@type": "ex:Person", "ssn": {ssn_json}{more}}}]}}')


@dataclass
class PageCorpus:
    rows: list
    # doc id hex -> PAGE_EXPECT tuple
    expect: dict
    triples: int


def page_corpus(seed: int, n_docs: int, tag: str = "pages") -> PageCorpus:
    """Person pages in five formats; 30% violate the profile.

    Every seed gets the same number of pages of each (kind, format) pair,
    so the work per op does not depend on the seed; the seed decides the
    order and the ssn values."""
    rng = random.Random(f"{tag}:{seed}")
    kinds = [k for k, share in KINDS for _ in range(round(share * n_docs))]
    kinds = (kinds + ["ok"] * n_docs)[:n_docs]
    pages = [(kind, FORMATS[i % len(FORMATS)]) for i, kind in enumerate(kinds)]
    rng.shuffle(pages)
    rows, expect, triples = [], {}, 0
    for i, (kind, (fmt, lang, ext)) in enumerate(pages):
        ssn = _ssn(rng.randrange(10 ** 9))
        ssn2 = _ssn(rng.randrange(10 ** 9))
        while ssn2 == ssn:
            ssn2 = _ssn(rng.randrange(10 ** 9))
        row = _source_row(seed, tag, i, lang, ext,
                          _page_content(fmt, i, kind, ssn, ssn2))
        rows.append(row)
        expect[doc_id_hex(*row[:3])] = PAGE_EXPECT[kind]
        e = PAGE_EXPECT[kind]
        triples += e[2] + e[3]
    return PageCorpus(rows, expect, triples)


@dataclass
class EntityCorpus:
    rows: list
    # entity IRI -> canonical IRI (the lexicographic minimum of its group)
    canonical: dict
    groups: int
    graph_rows: int
    candidates: int
    max_group: int
    chain_groups: int


# duplicate-group size cap and the share of groups that are chains
MAX_GROUP = 400
CHAIN_SHARE = 0.15


def entity_corpus(seed: int, n_docs: int) -> EntityCorpus:
    """One person entity per doc, each under its own IRI, grouped into true
    entities:

    * duplicate groups: every member has the group's name and ssn. Group
      sizes are heavy-tailed (Pareto, alpha 1.2) and capped at MAX_GROUP,
      so key blocking emits C(size, 2) candidate pairs per group and the
      largest group is a hot key;
    * chain groups (CHAIN_SHARE of groups, lengths 4..8 in turn): member j
      carries ssns k_j and k_(j+1), so only neighbours share a key and the
      union-find has to close a path of the chain's length.

    Group sizes come from a fixed sequence, so every seed has the same
    groups and candidate pairs; the seed decides doc order, IRIs per group
    and key values.

    Closed forms: the canonical graph has 3 rows per duplicate group
    (type, name, ssn) and length + 3 per chain (type, name, length + 1
    ssns); the mapping has one component per group."""
    rng = random.Random(f"entities:{seed}")
    members: list[tuple[int, list[str] | None]] = []  # (group, ssns) per doc
    chain_keys: dict[int, list[str]] = {}
    graph_rows = candidates = groups = chains = largest = 0
    next_key = rng.randrange(10 ** 8)
    while len(members) < n_docs:
        g = groups
        groups += 1
        # golden-ratio sequence: evenly spread uniforms, the same for all seeds
        u = (g * 0.6180339887498949) % 1.0
        if u < CHAIN_SHARE:
            size = 4 + chains % 5
            chain_keys[g] = [_ssn(next_key + j) for j in range(size + 1)]
            next_key += size + 1
            members += [(g, None)] * size
            graph_rows += size + 3
            candidates += size - 1
            chains += 1
        else:
            size = min(MAX_GROUP, int((1.0 - u) ** (-1 / 1.2)))
            key = _ssn(next_key)
            next_key += 1
            members += [(g, [key])] * size
            graph_rows += 3
            candidates += size * (size - 1) // 2
        largest = max(largest, size)
    rng.shuffle(members)
    # along a chain the IRIs ascend, so the canonical IRI sits at one end
    # and the union-find needs the same number of rounds for every seed
    at: dict[int, list[int]] = {}
    for i, (g, _) in enumerate(members):
        at.setdefault(g, []).append(i)
    for g, keys in chain_keys.items():
        for j, i in enumerate(at[g]):
            members[i] = (g, keys[j:j + 2])
    rows, by_group = [], {}
    for i, (g, keys) in enumerate(members):
        iri = f"{EX}E{i:07d}"
        by_group.setdefault(g, []).append(iri)
        ssns = ", ".join(f'"{k}"' for k in keys)
        content = (f"@prefix ex: <{EX}> .\nex:E{i:07d} a ex:Person ;\n"
                   f'  ex:name "Person {g} Name" ;\n  ex:ssn {ssns} .\n')
        rows.append(_source_row(seed, "entities", i, "turtle", "ttl", content))
    canonical = {}
    for iris in by_group.values():
        low = min(iris)
        canonical.update((iri, low) for iri in iris)
    return EntityCorpus(rows, canonical, groups, graph_rows, candidates,
                        largest, chains)
