"""RDF document parsing: content string -> (subj, pred, obj) rows.

Reference analog: each harvested share-folder file is parsed into a Jena
Model (`TaskService.java:184-198`, `ModelUtils.toModel(..., Lang.TURTLE)`;
SURVEY.md §2.1 S2). Here the parser is a self-contained Turtle-subset /
N-Triples / flat-JSON-LD reader (rdflib is not available in this image)
implemented as a pure-Python kernel and driven through ``mapInPandas`` so
parsing happens in Arrow batches on executors — never per-row Python UDFs.

Grammar subset (covers the reference's golden fixtures and everything our
synthetic corpus emits):

* ``@prefix p: <iri> .`` / SPARQL-style ``PREFIX p: <iri>``
* ``@base <iri> .``
* subject: IRIREF | prefixed name | blank-node label
* the ``a`` keyword, ``;`` predicate lists, ``,`` object lists
* objects: IRIREF, prefixed names, ``_:label``, string literals (with
  ``\\`` escapes, ``^^datatype``, ``@lang``), bare integers / decimals /
  doubles / booleans
* comments (``#`` outside literals)

A malformed document yields zero triples plus a non-null ``parse_error``
(the reference would fail the whole task; per SURVEY §2.1 we degrade
per-document instead).

Triple row shape (FIXTURES.md §3):
    subj, pred, obj_value, obj_kind in {iri, bnode, literal},
    obj_datatype (nullable), obj_lang (nullable)
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable, Iterator
from typing import NamedTuple

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"


class Triple(NamedTuple):
    subj: str
    pred: str
    obj_value: str
    obj_kind: str  # iri | bnode | literal
    obj_datatype: str | None
    obj_lang: str | None


class RdfParseError(ValueError):
    pass


# --- tokenizer -------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+)
    | (?P<COMMENT>\#[^\n]*)
    | (?P<KEYWORD>@prefix\b|@base\b|PREFIX\b|BASE\b|\ba\b|\btrue\b|\bfalse\b)
    | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
    | (?P<STRING_LONG>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\")
    | (?P<STRING>"(?:[^"\\\n]|\\.)*")
    | (?P<LANGTAG>@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)
    | (?P<DTSEP>\^\^)
    | (?P<BNODE>_:[A-Za-z0-9_][A-Za-z0-9_.-]*)
    | (?P<PNAME>[A-Za-z][\w.-]*:[\w.%-]*(?<!\.))   # prefixed name (local may be empty)
    | (?P<COLONNAME>:[\w.%-]*(?<!\.))              # default-prefix name
    | (?P<NUMBER>[+-]?(?:\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?))
    | (?P<PUNCT>[;,.\[\]()])
    """,
    re.VERBOSE,
)


# group-index dispatch: m.lastindex (int) avoids the per-token lastgroup
# name lookup (~35% tokenizer speedup); valid because the token regex has
# no nested capturing groups
_IDX2NAME = {v: k for k, v in _TOKEN_RE.groupindex.items()}
_SKIP_IDX = frozenset(
    {_TOKEN_RE.groupindex["WS"], _TOKEN_RE.groupindex["COMMENT"]}
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    n = len(text)
    match = _TOKEN_RE.match
    while pos < n:
        m = match(text, pos)
        if m is None:
            raise RdfParseError(f"unexpected char {text[pos]!r} at offset {pos}")
        li = m.lastindex
        if li not in _SKIP_IDX:
            tokens.append((_IDX2NAME[li], m.group()))
        pos = m.end()
    return tokens


_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(raw: str) -> str:
    out: list[str] = []
    i = 0
    n = len(raw)
    while i < n:
        c = raw[i]
        if c == "\\" and i + 1 < n:
            e = raw[i + 1]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 2
                continue
            if e == "u" and i + 6 <= n:
                out.append(chr(int(raw[i + 2 : i + 6], 16)))
                i += 6
                continue
            if e == "U" and i + 10 <= n:
                out.append(chr(int(raw[i + 2 : i + 10], 16)))
                i += 10
                continue
            raise RdfParseError(f"bad escape \\{e}")
        out.append(c)
        i += 1
    return "".join(out)


# --- turtle parser ---------------------------------------------------------


class _TurtleParser:
    def __init__(self, text: str):
        self.tokens = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[Triple] = []
        self._bnode_n = 0

    def _peek(self) -> tuple[str, str] | None:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def _next(self) -> tuple[str, str]:
        tok = self._peek()
        if tok is None:
            raise RdfParseError("unexpected end of input")
        self.i += 1
        return tok

    def _expect_punct(self, ch: str) -> None:
        kind, val = self._next()
        if kind != "PUNCT" or val != ch:
            raise RdfParseError(f"expected {ch!r}, got {val!r}")

    def _resolve_pname(self, pname: str) -> str:
        prefix, _, local = pname.partition(":")
        if prefix not in self.prefixes:
            raise RdfParseError(f"undefined prefix {prefix!r}")
        return self.prefixes[prefix] + local

    def _fresh_bnode(self) -> str:
        self._bnode_n += 1
        return f"_:gen{self._bnode_n}"

    def parse(self) -> list[Triple]:
        while self._peek() is not None:
            kind, val = self._peek()  # type: ignore[misc]
            if kind == "KEYWORD" and val in ("@prefix", "PREFIX"):
                self._directive_prefix(sparql=val == "PREFIX")
            elif kind == "KEYWORD" and val in ("@base", "BASE"):
                self._directive_base(sparql=val == "BASE")
            else:
                self._statement()
        return self.triples

    def _directive_prefix(self, sparql: bool) -> None:
        self._next()
        kind, val = self._next()
        if kind == "PNAME" and val.endswith(":"):
            prefix = val[:-1]
        elif kind == "COLONNAME" and val == ":":
            prefix = ""
        else:
            raise RdfParseError(f"bad prefix decl near {val!r}")
        kind, iri = self._next()
        if kind != "IRIREF":
            raise RdfParseError("prefix IRI expected")
        self.prefixes[prefix] = self.base + iri[1:-1] if not _is_absolute(iri[1:-1]) else iri[1:-1]
        if not sparql:
            self._expect_punct(".")

    def _directive_base(self, sparql: bool) -> None:
        self._next()
        kind, iri = self._next()
        if kind != "IRIREF":
            raise RdfParseError("base IRI expected")
        self.base = iri[1:-1]
        if not sparql:
            self._expect_punct(".")

    def _statement(self) -> None:
        subj = self._subject()
        self._predicate_object_list(subj)
        self._expect_punct(".")

    def _subject(self) -> str:
        kind, val = self._next()
        if kind == "IRIREF":
            return self._iri(val)
        if kind == "PNAME" or kind == "COLONNAME":
            return self._resolve_pname(val if kind == "PNAME" else val)
        if kind == "BNODE":
            return val
        if kind == "PUNCT" and val == "[":
            b = self._fresh_bnode()
            tok = self._peek()
            if tok and tok == ("PUNCT", "]"):
                self._next()
                return b
            self._predicate_object_list(b)
            self._expect_punct("]")
            return b
        raise RdfParseError(f"bad subject {val!r}")

    def _predicate(self) -> str:
        kind, val = self._next()
        if kind == "KEYWORD" and val == "a":
            return RDF_TYPE
        if kind == "IRIREF":
            return self._iri(val)
        if kind in ("PNAME", "COLONNAME"):
            return self._resolve_pname(val)
        raise RdfParseError(f"bad predicate {val!r}")

    def _predicate_object_list(self, subj: str) -> None:
        while True:
            pred = self._predicate()
            while True:
                self._object(subj, pred)
                tok = self._peek()
                if tok == ("PUNCT", ","):
                    self._next()
                    continue
                break
            tok = self._peek()
            if tok == ("PUNCT", ";"):
                self._next()
                # allow trailing ';' before '.' or ']'
                nxt = self._peek()
                if nxt is not None and nxt[0] == "PUNCT" and nxt[1] in (".", "]"):
                    return
                continue
            return

    def _iri(self, iriref: str) -> str:
        iri = iriref[1:-1]
        if self.base and not _is_absolute(iri):
            return self.base + iri
        return iri

    def _object(self, subj: str, pred: str) -> None:
        kind, val = self._next()
        if kind == "IRIREF":
            self.triples.append(Triple(subj, pred, self._iri(val), "iri", None, None))
        elif kind in ("PNAME", "COLONNAME"):
            self.triples.append(Triple(subj, pred, self._resolve_pname(val), "iri", None, None))
        elif kind == "BNODE":
            self.triples.append(Triple(subj, pred, val, "bnode", None, None))
        elif kind in ("STRING", "STRING_LONG"):
            lex = _unescape(val[3:-3] if kind == "STRING_LONG" else val[1:-1])
            dt: str | None = XSD_STRING
            lang: str | None = None
            tok = self._peek()
            if tok is not None and tok[0] == "DTSEP":
                self._next()
                dkind, dval = self._next()
                if dkind == "IRIREF":
                    dt = self._iri(dval)
                elif dkind in ("PNAME", "COLONNAME"):
                    dt = self._resolve_pname(dval)
                else:
                    raise RdfParseError("datatype IRI expected after ^^")
            elif tok is not None and tok[0] == "LANGTAG":
                self._next()
                lang = tok[1][1:].lower()
                dt = None  # rdf:langString; keep datatype null like Jena lexical view
            self.triples.append(Triple(subj, pred, lex, "literal", dt, lang))
        elif kind == "NUMBER":
            if re.fullmatch(r"[+-]?\d+", val):
                dt = XSD_INTEGER
            elif "e" in val.lower():
                dt = XSD_DOUBLE
            else:
                dt = XSD_DECIMAL
            self.triples.append(Triple(subj, pred, val, "literal", dt, None))
        elif kind == "KEYWORD" and val in ("true", "false"):
            self.triples.append(Triple(subj, pred, val, "literal", XSD_BOOLEAN, None))
        elif kind == "PUNCT" and val == "[":
            b = self._fresh_bnode()
            self.triples.append(Triple(subj, pred, b, "bnode", None, None))
            tok = self._peek()
            if tok == ("PUNCT", "]"):
                self._next()
                return
            self._predicate_object_list(b)
            self._expect_punct("]")
        elif kind == "PUNCT" and val == "(":
            # RDF collection -> rdf:first/rdf:rest chain
            rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
            items: list[str] = []
            nodes: list[str] = []
            while True:
                tok = self._peek()
                if tok is None:
                    raise RdfParseError("unterminated collection")
                if tok == ("PUNCT", ")"):
                    self._next()
                    break
                node = self._fresh_bnode()
                nodes.append(node)
                self._object(node, rdf + "first")
                items.append(node)
            if not nodes:
                self.triples.append(Triple(subj, pred, rdf + "nil", "iri", None, None))
                return
            self.triples.append(Triple(subj, pred, nodes[0], "bnode", None, None))
            for a, b2 in zip(nodes, nodes[1:]):
                self.triples.append(Triple(a, rdf + "rest", b2, "bnode", None, None))
            self.triples.append(Triple(nodes[-1], rdf + "rest", rdf + "nil", "iri", None, None))
        else:
            raise RdfParseError(f"bad object {val!r}")


def _is_absolute(iri: str) -> bool:
    return re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri) is not None


# --- entry points per format ------------------------------------------------


def parse_turtle(text: str) -> list[Triple]:
    return _TurtleParser(text).parse()


def parse_ntriples(text: str) -> list[Triple]:
    # N-Triples is a Turtle subset (absolute IRIs, no prefixes); same parser.
    return _TurtleParser(text).parse()


def _validate_jsonld_ctx(ctx) -> dict:
    """Accept only the flat-dict context subset (string mappings or
    expanded term definitions that are exactly {"@id": str}); anything
    needing the full expansion algorithm raises."""
    if not isinstance(ctx, dict):
        # remote-URL or array contexts need the full expansion algorithm
        raise RdfParseError("unsupported JSON-LD @context shape")
    for term, d in ctx.items():
        if isinstance(d, dict) and (set(d) != {"@id"} or not isinstance(d["@id"], str)):
            raise RdfParseError(
                f"unsupported JSON-LD term definition for {term!r}"
            )
    return ctx


def _jsonld_expand(term: str, ctx: dict) -> str:
    d = ctx.get(term)
    if isinstance(d, str):
        return d
    if isinstance(d, dict):
        return d["@id"]
    prefix, sep, local = term.partition(":")
    p = ctx.get(prefix) if sep else None
    if isinstance(p, str):
        return p + local
    if isinstance(p, dict):
        return p["@id"] + local
    return term


def parse_jsonld(text: str) -> list[Triple]:
    """JSON-LD subset: @graph list or node object(s) with flat-dict
    @context (string mappings or expanded term definitions that are
    exactly {"@id": str}); values are node refs {"@id":...}, typed values
    {"@value":..,"@type"/"@language":..}, JSON scalars, or NESTED node
    objects (minted as blank nodes and recursed, the Turtle `[...]`
    analog). Scoped @context on a child node is supported WITHIN that
    subset: the child mapping merges over (shadows) the inherited one for
    that node and its descendants — JSON-LD 1.1 embedded-context
    propagation for flat dicts — while siblings keep the parent mapping.
    Everything still needing the full expansion algorithm — remote
    (string) or array contexts anywhere, term definitions carrying
    coercion (@type/@container/@reverse), @list — RAISES RdfParseError so
    the doc degrades to a parse_error row instead of silently emitting
    wrong triples (ADVICE r2 polish; the reference handles those via Jena
    and no fixture exercises them)."""
    doc = json.loads(text)
    root_ctx = _validate_jsonld_ctx(
        doc.get("@context", {}) if isinstance(doc, dict) else {}
    )

    nodes: list[dict]
    root_node = doc if isinstance(doc, dict) else None
    if isinstance(doc, list):
        nodes = doc
    elif isinstance(doc, dict) and "@graph" in doc:
        nodes = doc["@graph"]
    elif isinstance(doc, dict):
        nodes = [doc]
    else:
        raise RdfParseError("unsupported JSON-LD document shape")

    out: list[Triple] = []
    counter = [0]

    def fresh_bnode() -> str:
        counter[0] += 1
        return f"_:j{counter[0]}"

    def emit_node(node: dict, subj: str | None = None, ctx: dict | None = None) -> str:
        if not isinstance(node, dict):
            raise RdfParseError("JSON-LD node must be an object")
        ctx = root_ctx if ctx is None else ctx
        if "@context" in node and node is not root_node:
            # scoped context: merge over the inherited mapping for this
            # node AND its descendants (redefinitions shadow); same
            # flat-dict subset rules as the root — anything richer still
            # raises rather than resolving against the wrong context
            ctx = {**ctx, **_validate_jsonld_ctx(node["@context"])}

        def expand(term: str) -> str:
            return _jsonld_expand(term, ctx)

        if subj is None:
            subj = expand(node["@id"]) if "@id" in node else fresh_bnode()
        for key, vals in node.items():
            if key in ("@id", "@context"):
                continue
            if key == "@type":
                for t in vals if isinstance(vals, list) else [vals]:
                    out.append(Triple(subj, RDF_TYPE, expand(t), "iri", None, None))
                continue
            pred = expand(key)
            for v in vals if isinstance(vals, list) else [vals]:
                if isinstance(v, dict):
                    if "@value" in v:
                        if "@context" in v:
                            # a scoped context inside a VALUE object would
                            # rebind the @type term; degrade rather than
                            # emit a wrongly-typed literal
                            raise RdfParseError(
                                "unsupported @context inside a JSON-LD "
                                "value object"
                            )
                        dt = expand(v["@type"]) if "@type" in v else None
                        lang = v.get("@language")
                        lex, inferred = _json_scalar(v["@value"])
                        out.append(
                            Triple(subj, pred, lex, "literal",
                                   dt or (None if lang else inferred),
                                   lang.lower() if lang else None)
                        )
                    elif "@id" in v and len(v) == 1:
                        # NB: empty {} must NOT take this branch (empty set
                        # is a subset of {"@id"}; that shipped briefly and
                        # raised an uncaught KeyError — ADVICE r1)
                        tgt = expand(v["@id"])
                        kind = "bnode" if tgt.startswith("_:") else "iri"
                        out.append(Triple(subj, pred, tgt, kind, None, None))
                    elif not v:
                        raise RdfParseError(
                            f"empty JSON-LD value object for predicate {pred}"
                        )
                    else:
                        # nested node object: link then recurse. The child
                        # subject resolves under the CHILD's own scoped
                        # context when it carries one (its @id must not
                        # resolve against the parent mapping); the merged
                        # mapping is passed down so the recursive call's
                        # re-merge is an idempotent no-op, not a second
                        # validation of a different dict.
                        child_ctx = ctx
                        if "@context" in v:
                            child_ctx = {
                                **ctx, **_validate_jsonld_ctx(v["@context"])
                            }
                        child = (
                            _jsonld_expand(v["@id"], child_ctx)
                            if "@id" in v
                            else fresh_bnode()
                        )
                        kind = "bnode" if child.startswith("_:") else "iri"
                        out.append(Triple(subj, pred, child, kind, None, None))
                        emit_node(v, subj=child, ctx=child_ctx)
                else:
                    lex, inferred = _json_scalar(v)
                    out.append(Triple(subj, pred, lex, "literal", inferred, None))
        return subj

    for node in nodes:
        emit_node(node)
    return out


def _json_scalar(v: object) -> tuple[str, str]:
    if isinstance(v, bool):
        return ("true" if v else "false", XSD_BOOLEAN)
    if isinstance(v, int):
        return (str(v), XSD_INTEGER)
    if isinstance(v, float):
        return (repr(v), XSD_DOUBLE)
    return (str(v), XSD_STRING)


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"


def parse_rdfxml(text: str) -> list[Triple]:
    """RDF/XML subset (the reference ingests any Jena-readable
    serialization; this covers the striped node/property grammar):
    `rdf:RDF` root (or a single node element), `rdf:Description` and
    typed node elements with `rdf:about`/`rdf:nodeID`, property
    elements carrying `rdf:resource`/`rdf:nodeID`/`rdf:datatype`/
    `xml:lang` (inherited from ancestors) or text content (plain text ≡
    `xsd:string`, RDF 1.1), nested node elements (minted bnodes, the
    `[...]` analog), and `rdf:parseType="Resource"` shorthand.
    Constructs needing the full grammar — `rdf:ID`/`rdf:about` relative
    to a base, `rdf:li`/containers, `parseType="Collection"/"Literal"`,
    reification attributes — RAISE RdfParseError so the doc degrades to
    a parse_error row, never to wrong triples (same contract as the
    JSON-LD subset)."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError as exc:
        raise RdfParseError(f"malformed RDF/XML: {exc}") from None

    out: list[Triple] = []
    counter = [0]

    def fresh_bnode() -> str:
        counter[0] += 1
        return f"_:x{counter[0]}"

    def iri_of(tag: str) -> str:
        if not tag.startswith("{"):
            raise RdfParseError(f"unnamespaced RDF/XML element {tag!r}")
        ns, local = tag[1:].split("}", 1)
        return ns + local

    def absolute_iri(iri: str, where: str) -> str:
        # Jena resolves relative IRIs against the document base; this
        # subset carries no base, so emitting them verbatim would mint
        # wrong triples. Degrade-don't-guess: raise, doc → parse_error.
        if not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            raise RdfParseError(
                f"relative IRI in {where} needs base resolution (unsupported)"
            )
        return iri

    def subject_of(el) -> str:
        about = el.get(f"{{{_RDF_NS}}}about")
        node_id = el.get(f"{{{_RDF_NS}}}nodeID")
        if el.get(f"{{{_RDF_NS}}}ID") is not None:
            raise RdfParseError("rdf:ID needs base resolution (unsupported)")
        if about is not None:
            return absolute_iri(about, "rdf:about")
        if node_id is not None:
            return f"_:{node_id}"
        return fresh_bnode()

    def emit_node(el, lang: str | None) -> str:
        """Node element → subject; returns the subject term."""
        lang = el.get(_XML_LANG, lang)
        subj = subject_of(el)
        tag_iri = iri_of(el.tag)
        if tag_iri != _RDF_NS + "Description":
            out.append(Triple(subj, RDF_TYPE, tag_iri, "iri", None, None))
        # non-rdf, non-xml ATTRIBUTES are string-literal properties
        for k, v in el.attrib.items():
            if k.startswith(f"{{{_RDF_NS}}}") or k.startswith(
                "{http://www.w3.org/XML/1998/namespace}"
            ):
                continue
            out.append(Triple(subj, iri_of(k), v, "literal", XSD_STRING, None))
        for prop in el:
            emit_property(subj, prop, lang)
        return subj

    def emit_property(subj: str, prop, lang: str | None) -> None:
        pred = iri_of(prop.tag)
        if pred == _RDF_NS + "li" or pred.startswith(_RDF_NS + "_"):
            raise RdfParseError("rdf:li/container members unsupported")
        lang = prop.get(_XML_LANG, lang)
        parse_type = prop.get(f"{{{_RDF_NS}}}parseType")
        resource = prop.get(f"{{{_RDF_NS}}}resource")
        node_id = prop.get(f"{{{_RDF_NS}}}nodeID")
        datatype = prop.get(f"{{{_RDF_NS}}}datatype")
        children = list(prop)
        # Computed unconditionally (incl. child tail text) so mixed
        # content — text interleaved with node elements — is detected
        # and raises rather than silently dropping the text.
        text = (prop.text or "").strip()
        tail_text = "".join((c.tail or "").strip() for c in children)
        if parse_type == "Resource":
            # anonymous bnode whose property elements are prop's children
            b = fresh_bnode()
            out.append(Triple(subj, pred, b, "bnode", None, None))
            for sub in children:
                emit_property(b, sub, lang)
            return
        if parse_type is not None:
            raise RdfParseError(f"parseType={parse_type!r} unsupported")
        if resource is not None:
            out.append(
                Triple(
                    subj,
                    pred,
                    absolute_iri(resource, "rdf:resource"),
                    "iri",
                    None,
                    None,
                )
            )
            return
        if node_id is not None:
            out.append(Triple(subj, pred, f"_:{node_id}", "bnode", None, None))
            return
        if children:
            if len(children) != 1 or text or tail_text:
                raise RdfParseError("mixed content in RDF/XML property")
            child_subj = emit_node(children[0], lang)
            kind = "bnode" if child_subj.startswith("_:") else "iri"
            out.append(Triple(subj, pred, child_subj, kind, None, None))
            return
        raw = prop.text or ""
        if datatype is not None:
            out.append(Triple(subj, pred, raw, "literal", datatype, None))
        elif lang is not None:
            out.append(Triple(subj, pred, raw, "literal", None, lang.lower()))
        else:
            out.append(Triple(subj, pred, raw, "literal", XSD_STRING, None))

    root_lang = root.get(_XML_LANG)
    if iri_of(root.tag) == _RDF_NS + "RDF":
        for el in root:
            emit_node(el, root_lang)
    else:  # a single node element as document root
        emit_node(root, root_lang)
    return out


_PARSERS = {
    "turtle": parse_turtle,
    "ttl": parse_turtle,
    "ntriples": parse_ntriples,
    "nt": parse_ntriples,
    "jsonld": parse_jsonld,
    "json-ld": parse_jsonld,
    "rdfxml": parse_rdfxml,
    "rdf/xml": parse_rdfxml,
    "rdf": parse_rdfxml,
    "xml": parse_rdfxml,
}


def parse_document(content: str, fmt: str) -> list[Triple]:
    fn = _PARSERS.get((fmt or "turtle").lower(), parse_turtle)
    return fn(content)


# --- vectorized N-Triples fast path ------------------------------------------
#
# Strict canonical N-Triples (one triple per line, quoted literals) parses
# with pandas vectorized regex extraction — ~an order of magnitude faster
# than the per-token Python loop. Docs containing anything the strict
# grammar doesn't cover (escapes, bare numbers, comments mid-line) fall
# back per-doc to the tokenizer parser, so behavior is unchanged.

_NT_LINE_RE = (
    r"^\s*(?:<(?P<s_iri>[^<>\s]*)>|(?P<s_bn>_:\S+))"
    r"\s+<(?P<p>[^<>\s]*)>\s+"
    r"(?:<(?P<o_iri>[^<>\s]*)>|(?P<o_bn>_:[^\s.]+)|"
    r'"(?P<o_lit>[^"\\]*)"(?:\^\^<(?P<o_dt>[^<>\s]*)>|@(?P<o_lang>[A-Za-z]+(?:-[A-Za-z0-9]+)*))?)'
    r"\s*\.\s*$"
)


def _parse_nt_vectorized(doc_ids, contents):
    """(matched_df, fallback_doc_ids): vector-parse strict NT docs; return
    triples for fully-matched docs and the ids needing the slow path."""
    import pandas as pd

    s = pd.Series(list(contents), index=list(doc_ids), dtype="object")
    lines = s.str.split("\n").explode()
    lines = lines[lines.str.strip().astype(bool)]
    # comments / escapes / long strings -> slow path for the whole doc
    unsafe = lines.str.contains(r"\\|^\s*#|\"\"\"", regex=True, na=True)
    unsafe_docs = set(lines.index[unsafe])

    m = lines.str.extract(_NT_LINE_RE)
    bad_docs = set(lines.index[m["p"].isna()]) | unsafe_docs
    ok = m[~m.index.isin(bad_docs)]
    if ok.empty:
        return None, list(dict.fromkeys(d for d in s.index if d in bad_docs))

    subj = ok["s_iri"].fillna(ok["s_bn"])
    obj_iri = ok["o_iri"]
    obj_bn = ok["o_bn"]
    obj_lit = ok["o_lit"]
    kind = pd.Series("literal", index=ok.index, dtype="object")
    kind[obj_iri.notna()] = "iri"
    kind[obj_bn.notna()] = "bnode"
    value = obj_lit.copy()
    value[obj_iri.notna()] = obj_iri
    value[obj_bn.notna()] = obj_bn
    dt = ok["o_dt"]
    lang = ok["o_lang"].str.lower()
    # plain literal -> xsd:string; typed/lang as extracted
    dt = dt.where(dt.notna() | lang.notna() | (kind != "literal"), XSD_STRING)
    dt = dt.where(kind == "literal", None)
    out = pd.DataFrame(
        {
            "doc_id": ok.index,
            "subj": subj,
            "pred": ok["p"],
            "obj_value": value,
            "obj_kind": kind,
            "obj_datatype": dt.where(dt.notna(), None),
            "obj_lang": lang.where(lang.notna(), None),
        }
    ).reset_index(drop=True)
    return out, list(dict.fromkeys(d for d in s.index if d in bad_docs))


# --- simple-Turtle fast path ---------------------------------------------------
#
# The full Turtle tokenizer runs ~41k docs/s/core; most harvested docs use
# a tiny grammar slice (@prefix decls + flat `subj pred obj (; pred obj)*.`
# statements with IRI/pname/simple-string terms). A two-regex kernel parses
# that slice several times faster. Anything outside it — object lists
# (','), collections, bnode property lists, escapes, long strings,
# datatypes/langtags, @base, comments, numbers, undefined prefixes, or any
# unmatched residue — returns None and the doc falls back to the
# tokenizer, so observable behavior is unchanged (differential + property
# tests in test_ttl_fastpath.py).

# The coverage check below already rejects every construct the statement
# regex can't express (object lists, collections, datatypes, langtags,
# comments, numbers, @base, SPARQL PREFIX) — they all leave unmatched
# residue. Two silent hazards are screened up front: a backslash escape
# inside a literal (would let `"[^"\n]*"` stop at an escaped quote and
# re-pair with a later one), and '@prefix' preceded by a quote on the
# same line (a decl-shaped substring INSIDE a literal would be gutted by
# the prefix-stripping sub and the mangled statement could still parse).
_TTL_UNSAFE = re.compile(r'\\|"[^"\n]*@prefix')
_TTL_PREFIX = re.compile(r"@prefix\s+([A-Za-z][\w.-]*)?:\s*<([^>]*)>\s*\.")
_TTL_PN = r"[A-Za-z][\w.-]*:[\w.%-]*|:[\w.%-]*"
_TTL_TERM = rf'<[^<>\s]*>|_:[\w.-]+|"[^"\n]*"|\ba\b|{_TTL_PN}'
# predicate-object pairs MUST be ';'-separated (an optional trailing ';'
# before '.' is legal Turtle): with ';' merely optional, invalid docs like
# `ex:s ex:p1 ex:o1 ex:p2 ex:o2 .` silently parsed instead of falling back
# to the tokenizer (which rejects them) — ADVICE r2.
_TTL_PAIR = rf"(?:{_TTL_TERM})\s+(?:{_TTL_TERM})"
_TTL_STMT = re.compile(
    rf"({_TTL_TERM})(\s+{_TTL_PAIR}(?:\s*;\s*{_TTL_PAIR})*)\s*;?\s*\.",
    re.DOTALL,
)
_TTL_PO = re.compile(rf"({_TTL_TERM})\s+({_TTL_TERM})\s*;?", re.DOTALL)


def _fast_parse_turtle(text: str) -> list[Triple] | None:
    """Parse the simple-statement Turtle subset; None -> caller falls back
    to the tokenizer (never raises).

    NB prefix decls are hoisted in one C-level findall/sub pass (measured
    faster than a fused single-scan alternation), so unlike the tokenizer
    a decl also applies to statements ABOVE it — harmless for conforming
    docs, and a statement using a prefix declared nowhere still falls
    back. '@prefix' inside a literal is consumed atomically by the
    statement's literal term before the decl-shaped substring could
    register, because the statement regex anchors at the subject."""
    if _TTL_UNSAFE.search(text):
        return None
    prefixes = {}
    decls = _TTL_PREFIX.findall(text)
    for pfx, iri in decls:
        if not _is_absolute(iri):
            return None  # relative prefix IRI needs @base semantics
        prefixes[pfx or ""] = iri
    if len(decls) != len(prefixes):
        # redeclared prefix: hoisting is last-wins, so statements ABOVE
        # the redeclaration would resolve against the LATER IRI while the
        # tokenizer scopes decls textually — fall back (ADVICE r2).
        return None
    body = _TTL_PREFIX.sub(" ", text)

    triples: list[Triple] = []
    last_end = 0

    def term(tok: str, as_pred: bool = False):
        # -> (value, kind) with kind in {iri, bnode, literal}; None = fallback
        c0 = tok[0]
        if c0 == "<":
            return tok[1:-1], "iri"
        if c0 == '"':
            return (None if as_pred else (tok[1:-1], "literal"))
        if tok == "a":
            # 'a' means rdf:type ONLY in the predicate slot; in subject or
            # object position it is invalid Turtle -> fallback (ADVICE r2)
            return (RDF_TYPE, "iri") if as_pred else None
        if tok.startswith("_:"):
            return (None if as_pred else (tok, "bnode"))
        pfx, _, local = tok.partition(":")
        base = prefixes.get(pfx)
        if base is None:
            return None
        return base + local, "iri"

    for m in _TTL_STMT.finditer(body):
        # coverage: only whitespace may separate matched statements
        if body[last_end : m.start()].strip():
            return None
        last_end = m.end()
        subj_t = term(m.group(1))
        if subj_t is None or subj_t[1] == "literal":
            return None
        subj = subj_t[0]
        for pm in _TTL_PO.finditer(m.group(2)):
            p = term(pm.group(1), as_pred=True)
            o = term(pm.group(2))
            if p is None or o is None or p[1] != "iri":
                return None
            val, kind = o
            dt = XSD_STRING if kind == "literal" else None
            triples.append(Triple(subj, p[0], val, kind, dt, None))

    # full-coverage check: any residue after the last statement means the
    # doc uses grammar we did not parse -> fallback
    if body[last_end:].strip():
        return None
    return triples


# --- Spark integration -------------------------------------------------------

# doc_id is BINARY (the raw 32 sha256 bytes, not the 64-char hex string):
# the doc_id column rides EVERY row of the corpus-wide exchange and every
# keyed join/groupBy, and halving its width measurably moves the
# bandwidth-bound validate stage (BENCH.md §6: 2.36x
# local[32] throughput, 8->32 scaling efficiency 0.126 -> 0.306 at 2M
# docs). Driver-facing queries re-hex at the edge (lower(hex(..)) ==
# the old string ids exactly).
TRIPLES_SCHEMA = (
    "doc_id binary, subj string, pred string, obj_value string, "
    "obj_kind string, obj_datatype string, obj_lang string"
)

PARSE_ERRORS_SCHEMA = "doc_id string, parse_error string"


def parse_sources_to_triples(
    sources_df,
    with_errors: bool = False,
    return_raw: bool = False,
    repartition_by_doc: bool = False,
):
    """sources(repo, path, commit, lang, content[, doc_id]) -> triples DF.

    Arrow-batched via mapInPandas (SURVEY §2.11): one input row explodes to
    N triple rows inside a pandas batch, no per-row Python UDF. Rows that
    fail to parse yield a single error row with pred = '__parse_error__'
    which callers split off; this keeps one pass over the data.

    repartition_by_doc: hash-partition the parse output by doc_id before
    the triples/error filters split off. Every downstream operator
    (focus derivation, focus⋈triples, cardinality groupBy, class join,
    valid/error split, verdict rollup) is keyed on a doc_id-prefixed
    superset, so with spark.sql.requireAllClusterKeysForCoPartition=false
    (session.py) this ONE exchange replaces all of theirs — at 1000
    executors the validation stage graph shuffles the corpus exactly once.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    df = sources_df
    if "doc_id" not in df.columns:
        df = df.withColumn(
            "doc_id",
            F.unhex(F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256)),
        )
    elif dict(df.dtypes)["doc_id"] == "string":
        # repo convention: string doc_ids are sha256 hex (add_doc_id) —
        # carry the raw bytes through the parse + exchange. Non-hex ids
        # (unhex -> NULL) deterministically re-key via sha256 so a legacy
        # caller can never silently collapse onto a NULL key.
        df = df.withColumn(
            "doc_id",
            F.coalesce(F.unhex("doc_id"), F.unhex(F.sha2("doc_id", 256))),
        )
    df = df.select("doc_id", "lang", "content")

    def batch_parse(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "subj", "pred", "obj_value", "obj_kind",
                "obj_datatype", "obj_lang"]
        for pdf in batches:
            frames: list[pd.DataFrame] = []
            nt_mask = pdf["lang"].str.lower().isin(["nt", "ntriples"])
            slow = pdf[~nt_mask]
            if nt_mask.any():
                fast, fallback_ids = _parse_nt_vectorized(
                    pdf.loc[nt_mask, "doc_id"], pdf.loc[nt_mask, "content"]
                )
                if fast is not None:
                    frames.append(fast)
                if fallback_ids:
                    fb = pdf[nt_mask & pdf["doc_id"].isin(fallback_ids)]
                    slow = pd.concat([slow, fb])
            rows: list[tuple] = []
            for doc_id, lang, content in zip(
                slow["doc_id"], slow["lang"], slow["content"]
            ):
                try:
                    lang_l = (lang or "turtle").lower()
                    if lang_l in ("turtle", "ttl"):
                        # simple-statement fast kernel, tokenizer fallback
                        ts = _fast_parse_turtle(content)
                        if ts is None:
                            ts = parse_turtle(content)
                    else:
                        ts = parse_document(content, lang)
                    for t in ts:
                        rows.append((doc_id, *t))
                # broad on purpose: one malformed harvested doc must yield a
                # __parse_error__ row, never fail the whole Spark job — a
                # parser-kernel bug class outside this list (KeyError etc.)
                # would otherwise kill a 10^12-doc run on one bad input
                except (RdfParseError, ValueError, RecursionError, KeyError,
                        TypeError, AttributeError, IndexError) as exc:
                    rows.append(
                        (doc_id, "", "__parse_error__", str(exc)[:1024],
                         "literal", None, None)
                    )
            frames.append(pd.DataFrame(rows, columns=cols))
            yield pd.concat(frames, ignore_index=True)[cols]

    parsed = df.mapInPandas(batch_parse, schema=TRIPLES_SCHEMA)
    if repartition_by_doc:
        parsed = parsed.repartition("doc_id")
    triples = parsed.filter(F.col("pred") != "__parse_error__")
    if not with_errors:
        return triples
    errors = parsed.filter(F.col("pred") == "__parse_error__").select(
        "doc_id", F.col("obj_value").alias("parse_error")
    )
    if return_raw:
        # callers persist `parsed` so the triples and error branches share
        # one materialization of the (expensive) Arrow parse
        return triples, errors, parsed
    return triples, errors
