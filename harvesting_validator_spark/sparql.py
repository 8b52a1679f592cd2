"""SPARQL SELECT/ASK subset compiled to DataFrame plans.

Reference analog: the reference's ENTIRE query surface is SPARQL — 15
Freemarker templates under `src/main/resources/sparql/` executed against
the triple store (SURVEY.md §1.3/§2.9; `SparqlQueryLoad.java`). Round 1-4
mapped each template to a hand-built DataFrame plan (COVERAGE.md §2);
this module closes the remaining migration gap: a user's OWN queries —
not just the bundled templates — run unchanged, parsed and compiled to
the same Catalyst plans the hand-built builders produce.

Supported subset (everything the reference templates' READ side uses,
plus the core of SPARQL 1.1 SELECT):

* prologue ``PREFIX`` declarations; ``a`` for rdf:type
* ``SELECT [DISTINCT] ?v ... | * | (AGG(...) AS ?alias)`` — aggregates
  COUNT([DISTINCT] ?v|*), SUM, AVG, MIN, MAX, SAMPLE, and
  GROUP_CONCAT([DISTINCT] ?v; SEPARATOR="s") (sum/avg numeric in
  DECIMAL, NULL over empty/all-null groups rather than the spec's
  Sum({})=0; min/max lexical over the value strings; DISTINCT only with
  COUNT/GROUP_CONCAT — it dedups terms, which sum/avg post-cast cannot;
  SAMPLE picks the lexical minimum — a spec-conformant deterministic
  choice; GROUP_CONCAT concatenates in lexical ascending order — the
  spec leaves order undefined, this engine pins it so results are
  deterministic and oracle-able) — with ``GROUP BY`` when vars and
  aggregates mix
* ``HAVING (expr)+`` — boolean combinations of comparisons over
  aggregate calls, group keys, and literals; several bracketted
  conditions conjoin. HAVING aggregates compute in the SAME groupBy as
  the projection's (one shuffle); one equal to a projected aggregate
  reuses its column. Requires at least one aggregate in the query
  (key-only HAVING == a WHERE filter — out of subset by design)
* ``ASK``
* basic graph patterns with ``;`` / ``,`` predicate-object lists
* ``GRAPH ?var { ... }`` / ``GRAPH <iri> { ... }`` — the engine's
  named graphs are documents: a graph var binds to the lowercase sha256
  hex doc id (identical to the ids every other edge reports); a constant
  ``urn:doc:HEX`` IRI names that document directly, and (r5 wave 6) any
  OTHER constant IRI names an external graph whose doc id is
  sha256(iri) — symmetric with `sparql_update` writes, so graphs minted
  by INSERT DATA are immediately readable by name — and
  patterns inside one GRAPH group additionally join on doc_id — which
  co-partitions with the pipeline's single doc_id exchange
  (`plans/pipeline.py`), so multi-pattern graph-scoped BGPs add NO new
  corpus-wide shuffle beyond the per-key hash joins themselves
* ``FILTER`` with ``|| && ! = != < <= > >=``, ``regex(?v, "re"[, "i"])``,
  ``STRSTARTS/STRENDS/CONTAINS/STRLEN/STR/LANG/DATATYPE/BOUND``,
  ``isIRI/isBlank/isLiteral``, and (r5 wave 3) the string builtins
  ``UCASE/LCASE/SUBSTR/CONCAT/REPLACE/STRBEFORE/STRAFTER`` (also usable
  in BIND; outputs are plain literals); comparisons against a numeric
  literal compare numerically (DECIMAL cast), everything else lexically
* (r5 wave 7) ``ABS/ROUND/CEIL/FLOOR`` (DECIMAL evaluation; ROUND is
  XPath half-toward-positive-infinity; ABS strips the sign lexically so
  exact spellings survive), ``isNumeric`` (numeric datatype + valid
  lexical form), ``sameTerm`` (null-safe value+kind+datatype+lang
  identity), the hash builtins ``MD5/SHA1/SHA256/SHA384/SHA512`` (hex
  simple literals, JVM-side), and the dateTime accessors
  ``YEAR/MONTH/DAY/HOURS/MINUTES/SECONDS/TZ`` — extracted from the
  xsd:dateTime LEXICAL form by regexp (no session-timezone dependence;
  malformed values go unbound, never wrong). ``NOW/RAND/UUID/STRUUID``
  raise: nondeterministic, against the engine's deterministic-id rule
* ``OPTIONAL { ... }`` (left outer join on the shared vars)
* ``{ ... } UNION { ... }``
* ``FILTER [NOT] EXISTS { ... }`` — a left_semi (resp. left_anti) join
  of the current solutions against the inner pattern on the shared
  vars (inside GRAPH the graph var is always shared, so doc-scoped
  [NOT] EXISTS — incl. every sh:sparql constraint — composes freely);
  plus (r5 wave 5) ``[NOT] EXISTS`` as an OPERAND of a boolean
  expression (``FILTER(?x > 5 || EXISTS {...})``) via a deduplicated
  marker left join read as ``coalesce(flag, false)``, and var-disjoint
  probes via a broadcast ``limit(1)`` any-match frame — never a
  nested loop. EXISTS in BIND / HAVING position stays out
* ``MINUS { ... }`` — left_anti join on the shared vars; with NO shared
  vars SPARQL MINUS removes nothing (disjoint binding domains), so it
  compiles to a no-op. Since our binding domains are static (every
  pattern var is always bound in its solution frame, modulo OPTIONAL
  nulls), the per-solution dom-overlap test degenerates to this
  compile-time check; a shared var left NULL by OPTIONAL compares
  non-matching (kept by MINUS / NOT EXISTS) — documented simplification
  of the spec's unbound-is-compatible rule
* property paths in query position — sequence ``p1/p2``, inverse
  ``^p``, alternative ``p1|p2``, parenthesized compositions —
  desugared per SPARQL 18.2.2.4 into triple patterns with fresh
  variables / swapped positions / UNION; plus (r5 wave 3) the closure
  modifiers ``p*`` / ``p+`` / ``p?`` over a plain IRI step, evaluated
  by a per-predicate path-doubling fixpoint (doc-scoped inside GRAPH —
  the same loop discipline as the SHACL engine's shape-side closure).
  Zero-step endpoints are the graph's resources; literal self-pairs
  are a documented simplification away from the spec's all-terms rule.
  (r5 wave 5) closure modifiers also apply to COMPOSITE sub-paths —
  ``(p/q)+``, ``(^p|q)*`` — by compiling the one-hop step through the
  regular machinery into the fixpoint's edge frame; nested closures
  (``(p*)+``) stay out. (r5 wave 7) negated property sets — ``!p``,
  ``!a``, ``!(p1|^p2|...)``, ``!()`` — desugar per 18.2.2.4 into a
  fresh-var hop filtered by ``NOT IN`` per direction (mixed sets UNION
  the two directions); they compose with sequences, inverses, and the
  closure fixpoint like any other step
* ``CONSTRUCT { template } WHERE { ... }`` — rule-based triple
  derivation: each solution instantiates the template, invalid
  instantiations are skipped per spec, and the deduplicated result uses
  the engine's triple schema (minus doc_id), so derived triples compose
  with `kg/graph.py` and can be queried again by `sparql_select`
* ``DESCRIBE (VarOrIri+ | *) ['WHERE' {...}]`` (r5 wave 5) — the
  per-document concise bounded description: every subject row of the
  targets plus, transitively within the same document, the triples of
  blank nodes reachable through object positions (nested structures
  and RDF lists describe whole, via the same path-doubling fixpoint);
  graph output in the triple schema, composable like CONSTRUCT
* ``BIND(expr AS ?v)`` — a bare-var expr copies the source term, any
  other expression yields a plain literal in its lexical form; the
  literal constructors ``STRDT(lex, <dt>)`` / ``STRLANG(lex, "tag")``
  (r5 wave 7, constant tags) build typed / lang-tagged terms that
  join and filter exactly like scanned ones
* ``VALUES ?v { ... }`` / ``VALUES (?a ?b) { (..) .. }`` inline data,
  joined on the shared vars (at least one required — a disconnected
  VALUES block would be a cartesian); ``UNDEF`` cells (r5 wave 5) are
  match-anything and bind nothing — the compatibility join (the VALUES
  side is a broadcast constant handful of rows) treats kind-IS-NULL
  cells as compatible with every solution
* ``ORDER BY [ASC()/DESC()]``, ``LIMIT``, ``OFFSET``
* ``{ SELECT ... }`` sub-queries (full SubSelect grammar incl. its own
  DISTINCT/GROUP BY/HAVING/slice), evaluated bottom-up with only the
  projected vars visible outward (SPARQL 18.2.2.8) — this runs the
  reference's nested pager (`load-imported-triples-stream.sparql`)
  verbatim; an inner ORDER BY compiles only when a LIMIT/OFFSET slice
  makes it observable (the outer join destroys order), so bare ordered
  sub-selects never pay the total-sort exchange
* Freemarker-style ``${name}`` templates via :func:`bind_template` —
  the reference's `.sparql` files run with their parameters bound

* SPARQL 1.1 UPDATE via :func:`sparql_update` (r5 wave 6) —
  ``INSERT DATA`` / ``DELETE DATA`` (ground constant-graph quads),
  ``DELETE {} INSERT {} WHERE {}`` (either template optional; the
  ``DELETE WHERE`` shorthand), and ``;``-chained sequences — compiled
  to anti-join (delete) / novelty-anti-join + union (insert) over the
  quad frame; runs the reference's six WRITE templates verbatim, which
  closes the full fifteen-template surface

Out of contract — raise ``SparqlUnsupported`` at parse time
(degrade-don't-guess, same contract as the RDF parsers): nested
closure modifiers (``(p*)+``), [NOT] EXISTS in BIND / HAVING position,
SERVICE, and on the update side WITH/USING dataset clauses, blank
nodes in quads, default-graph (non-GRAPH-scoped) quads, and the
graph-management forms LOAD/CLEAR/DROP/CREATE/MOVE/COPY/ADD (graph
lifecycle is the warehouse/sinks layer, COVERAGE.md §2.9).

Semantics notes (documented simplifications, asserted by tests):

* term equality is lexical: joins match on (value, kind) plus null-safe
  (datatype, lang) when both sides bind object positions; a plain string
  literal in the query matches stored datatype NULL **or** xsd:string
  (RDF 1.1 collapses them), a ``^^``-typed literal matches that exact
  datatype. No D-entailment (``"1"^^xsd:int`` never joins
  ``"01"^^xsd:integer``) — same behavior as the engine's NT round-trip.
* ORDER BY applies to the projected solution (order vars must be
  projected) and sorts NULLs first, Spark's default.

Scale: each triple pattern compiles to a constant-position filter over
the (already cached, doc_id-partitioned) triples frame — predicate
constants prune before any join, exactly what a 100-TB BGP needs; joins
are hash equi-joins on the shared-variable keys (the one exception is
VALUES, whose join-compatibility condition nest-loops against the
BROADCAST constant inline table — plan-guarded; never a corpus
CartesianProduct); aggregates are map-side-combined groupBys.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from harvesting_validator_spark.runtime import local_frame

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
DOC_GRAPH_PREFIX = "urn:doc:"  # GRAPH <urn:doc:HEX> names one document


def graph_doc_id_bytes(iri: str) -> bytes:
    """Constant graph IRI -> binary doc id, symmetric between reads
    (GRAPH <iri> scoping) and writes (sparql_update quads).

    ``urn:doc:HEX`` names a document directly (the hex id every edge
    reports). Any OTHER IRI names an EXTERNAL graph — e.g. the
    reference's task graph (`update-task-status.sparql`,
    `append-task-*.sparql` write to Virtuoso graph URIs) — and maps to
    sha256(iri): deterministic (the engine's id rule, never uuid), 32
    bytes like a document id, collision-free in practice, and identical
    on both the read and write side so an INSERT DATA into
    <http://x/graphs/tasks> is immediately visible to GRAPH
    <http://x/graphs/tasks> reads."""
    if iri.startswith(DOC_GRAPH_PREFIX):
        h = iri[len(DOC_GRAPH_PREFIX):]
        if not re.fullmatch(r"[0-9a-fA-F]+", h or "") or len(h) % 2:
            raise SparqlError(f"bad {DOC_GRAPH_PREFIX} hex id: {iri!r}")
        return bytes.fromhex(h)
    return hashlib.sha256(iri.encode("utf-8")).digest()


class SparqlError(ValueError):
    """Malformed query text."""


class SparqlUnsupported(SparqlError):
    """Syntactically valid SPARQL outside the supported subset."""


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Iri:
    value: str


@dataclass(frozen=True)
class Lit:
    value: str
    datatype: str | None = None
    lang: str | None = None


@dataclass(frozen=True)
class TriplePattern:
    s: object
    p: object
    o: object


@dataclass(frozen=True)
class Filter:
    expr: object


@dataclass(frozen=True)
class Optional_:
    pattern: tuple


@dataclass(frozen=True)
class Graph:
    term: object  # Var | Iri
    pattern: tuple


@dataclass(frozen=True)
class Union_:
    left: tuple
    right: tuple


@dataclass(frozen=True)
class Bind:
    expr: object
    var: str


@dataclass(frozen=True)
class Values:
    vars: tuple  # var names
    rows: tuple  # tuples of (Iri | Lit)


@dataclass(frozen=True)
class ClosurePath:
    """``<p>*`` / ``<p>+`` / ``<p>?`` in predicate position (r5 wave 3).

    Sits in ``TriplePattern.p``; the compiler evaluates the predicate's
    transitive closure by a path-doubling fixpoint (``+``), optionally
    unioned with the zero step (``*``), or just identity ∪ one hop
    (``?``). Zero-step endpoints are the graph's RESOURCES (IRIs and
    blank nodes appearing as subject or non-literal object) — literal
    self-pairs are a documented simplification away from the spec's
    all-terms rule (they only differ when both endpoints are unbound,
    which anchored closure queries never are).

    r5 wave 5: ``pred`` may also be a TUPLE of desugared one-hop
    pattern elements — the closure of a COMPOSITE sub-path like
    ``(p/q)+`` or ``(^p|q)*`` — with ``src``/``dst`` naming the hop's
    endpoint variables; the compiler builds the edge frame by compiling
    that one hop through the regular machinery and runs the SAME
    fixpoint over it. Nested closures (``(p*)+``) stay out."""

    pred: object  # str (plain IRI step) | tuple (composite one-hop)
    op: str  # "*" | "+" | "?"
    src: str | None = None  # composite form: hop endpoint var names
    dst: str | None = None


def _path_contains_closure(p: object) -> bool:
    """True when a parsed path expression contains a closure modifier
    at any depth (used to keep nested closures out of the subset)."""
    if isinstance(p, ClosurePath):
        return True
    if isinstance(p, tuple) and len(p) == 2:
        kind, payload = p
        if kind == "inv":
            return _path_contains_closure(payload)
        if kind == "nps":  # payload is ((iri...), (iri...)) — no nesting
            return False
        return any(_path_contains_closure(x) for x in payload)
    return False


@dataclass(frozen=True)
class Exists:
    """``FILTER [NOT] EXISTS { pattern }`` — compiles to a left_semi
    (resp. left_anti) join of the current solutions against the inner
    pattern's solutions on the shared variables."""

    pattern: tuple
    negated: bool


@dataclass(frozen=True)
class Minus:
    """``MINUS { pattern }`` — left_anti join on the shared variables;
    with NO shared variables SPARQL MINUS removes nothing (disjoint
    binding domains), so it compiles to a no-op."""

    pattern: tuple


# filter-expression nodes
@dataclass(frozen=True)
class SubSelect:
    """``{ SELECT ... }`` — a nested query evaluated bottom-up as an
    isolated group; only its PROJECTED variables are visible to the
    enclosing pattern (SPARQL 18.2.2.8 variable scope), which joins the
    solution frame on whatever it shares. The grammar makes a sub-select
    the WHOLE content of its braces (GroupGraphPattern ::= '{'
    (SubSelect | GroupGraphPatternSub) '}')."""

    query: object  # Query (form == "select")


@dataclass(frozen=True)
class ExistsExpr:
    """``[NOT] EXISTS { pattern }`` INSIDE a boolean expression (r5
    wave 5) — unlike the standalone-FILTER form (a semi/anti join),
    an expression operand needs a per-row boolean, so it compiles to a
    MARKER left join: the inner pattern's solutions projected to the
    shared variables, deduplicated, and left-joined with a TRUE flag;
    the expression reads ``coalesce(flag, false)``. Var-disjoint
    probes join a broadcast ``limit(1)`` any-match frame instead —
    never a full nested-loop."""

    pattern: tuple
    negated: bool


@dataclass(frozen=True)
class _MarkerRef:
    """Internal: a boolean column minted by the ExistsExpr rewrite."""

    col: str
    negated: bool


@dataclass(frozen=True)
class BoolOp:
    op: str  # "&&" | "||"
    left: object
    right: object


@dataclass(frozen=True)
class Cmp:
    op: str  # = != < <= > >=
    left: object
    right: object


@dataclass(frozen=True)
class Not:
    expr: object


@dataclass(frozen=True)
class Call:
    name: str  # lowercase builtin name
    args: tuple


@dataclass(frozen=True)
class InList:
    expr: object
    terms: tuple  # constant Iri/Lit terms
    negated: bool


@dataclass(frozen=True)
class Agg:
    fn: str  # "count"
    distinct: bool
    arg: object  # Var | None (= COUNT(*))
    alias: str | None  # None inside a HAVING expression
    sep: str | None = None  # GROUP_CONCAT separator

    def key(self) -> tuple:
        """Identity of the aggregate COMPUTATION (alias excluded) — a
        HAVING aggregate equal to a projected one reuses its column."""
        return (self.fn, self.distinct, self.arg, self.sep)


@dataclass
class Query:
    form: str  # "select" | "ask" | "construct"
    projection: list | None  # None = SELECT *; items are Var | Agg
    distinct: bool = False
    pattern: tuple = ()
    template: list = field(default_factory=list)  # CONSTRUCT triples
    group_by: list = field(default_factory=list)  # [Var]
    having: object | None = None  # filter expr over aggregates/keys
    order_by: list = field(default_factory=list)  # [(Var, asc: bool)]
    limit: int | None = None
    offset: int | None = None


@dataclass(frozen=True)
class QuadBlock:
    """One ``GRAPH g { triples }`` group of an update's quad set. The
    engine's graphs are documents, so update quads are always
    graph-scoped (a bare default-graph triple raises)."""

    graph: object  # Iri | Var (Var only in modify templates)
    triples: tuple  # TriplePattern (ground for the DATA forms)


@dataclass(frozen=True)
class UpdateOp:
    """One operation of a SPARQL 1.1 Update request (r5 wave 6).

    kind == "insert_data" / "delete_data": ``insert`` / ``delete`` hold
    ground QuadBlocks and ``pattern`` is empty. kind == "modify": the
    ``DELETE {} INSERT {} WHERE {}`` form (either template may be
    empty, ``DELETE WHERE`` desugars to delete == pattern)."""

    kind: str  # "insert_data" | "delete_data" | "modify"
    delete: tuple = ()  # QuadBlock*
    insert: tuple = ()  # QuadBlock*
    pattern: tuple = ()  # WHERE group (modify only)


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<STRING>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<PNAME>[A-Za-z_][A-Za-z0-9_\-]*:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?)
    | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<NUMBER>[+-]?(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<OP>\^\^|&&|\|\||!=|<=|>=|[{}().,;=<>!*:/|^+?])
    """,
    re.X,
)

_KEYWORDS = {
    "prefix", "select", "ask", "distinct", "where", "filter", "optional",
    "union", "graph", "order", "by", "asc", "desc", "limit", "offset",
    "as", "count", "group", "true", "false",
    "bind", "values", "minus", "exists", "not", "construct",
    # recognized so we can refuse them explicitly instead of misparsing
    "describe", "insert", "delete", "service", "having",
}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlError(f"cannot tokenize at: {text[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        val = m.group()
        if kind == "NAME" and (val.lower() in _KEYWORDS or val == "a"):
            out.append(("KW", "a" if val == "a" else val.lower()))
        else:
            out.append((kind, val))
    out.append(("EOF", ""))
    return out


# --------------------------------------------------------------------------
# Parser (recursive descent)
# --------------------------------------------------------------------------


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._in_having = False  # aggregate calls legal in expressions

    # -- token plumbing ----------------------------------------------------
    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> str | None:
        k, v = self.peek()
        if k == "KW" and v in kws:
            self.i += 1
            return v
        return None

    def expect_kw(self, kw: str) -> None:
        if not self.accept_kw(kw):
            raise SparqlError(f"expected {kw.upper()!r}, got {self.peek()[1]!r}")

    def accept_op(self, op: str) -> bool:
        k, v = self.peek()
        if k == "OP" and v == op:
            self.i += 1
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.accept_op(op):
            raise SparqlError(f"expected {op!r}, got {self.peek()[1]!r}")

    # -- grammar -----------------------------------------------------------
    def parse(self) -> Query:
        self._prologue()

        if self.accept_kw("select"):
            q = self._select()
        elif self.accept_kw("ask"):
            q = self._ask()
        elif self.accept_kw("construct"):
            q = self._construct()
        elif self.accept_kw("describe"):
            q = self._describe()
        else:
            k, v = self.peek()
            if k == "KW" and v in ("insert", "delete"):
                raise SparqlUnsupported(
                    f"{v.upper()} is an update — run it through "
                    "sparql_update, not sparql_select"
                )
            raise SparqlError(
                f"expected SELECT, ASK, CONSTRUCT or DESCRIBE, got {v!r}"
            )
        if self.peek()[0] != "EOF":
            raise SparqlError(f"trailing tokens at {self.peek()[1]!r}")
        return q

    def _prologue(self) -> None:
        while self.accept_kw("prefix"):
            k, v = self.next()
            # "ex:" tokenizes as NAME "ex" + OP ":"; the DEFAULT prefix
            # declaration "PREFIX : <iri>" is a bare OP ":" (r5 wave 7 —
            # stored under "" and resolved by _term's ':local' branch)
            if k == "NAME":
                name = v
                kk, vv = self.next()
                if not (kk == "OP" and vv == ":") and vv != ":":
                    raise SparqlError(f"bad PREFIX declaration near {vv!r}")
            elif k == "OP" and v == ":":
                name = ""
            else:
                raise SparqlError(f"bad PREFIX declaration near {v!r}")
            kk, vv = self.next()
            if kk != "IRIREF":
                raise SparqlError(f"PREFIX needs an IRI, got {vv!r}")
            self.prefixes[name] = vv[1:-1]

    # -- update grammar (r5 wave 6) ------------------------------------------
    def parse_update(self) -> list[UpdateOp]:
        """UpdateUnit ::= Prologue Update (';' Prologue? Update)* ';'? —
        operations apply in sequence, each against the previous one's
        result (SPARQL 1.1 Update §3)."""
        self._prologue()
        ops = [self._update_op()]
        while self.accept_op(";"):
            self._prologue()  # each op may carry its own prologue
            if self.peek()[0] == "EOF":
                break  # trailing ';'
            ops.append(self._update_op())
        if self.peek()[0] != "EOF":
            raise SparqlError(f"trailing tokens at {self.peek()[1]!r}")
        return ops

    def _accept_name(self, word: str) -> bool:
        k, v = self.peek()
        if k == "NAME" and v.lower() == word:
            self.i += 1
            return True
        return False

    _GRAPH_MGMT = ("load", "clear", "drop", "create", "move", "copy",
                   "add", "with", "using")

    def _update_op(self) -> UpdateOp:
        k, v = self.peek()
        if k == "NAME" and v.lower() in self._GRAPH_MGMT:
            # graph-management forms and WITH/USING dataset clauses are
            # out of the subset: the engine's graph store IS the quad
            # frame — lifecycle belongs to the warehouse/sinks layer
            raise SparqlUnsupported(
                f"{v.upper()} is out of the update subset (graph "
                "lifecycle is the engine's warehouse/sinks layer)"
            )
        if self.accept_kw("insert"):
            if self._accept_name("data"):
                return UpdateOp(
                    "insert_data", insert=self._quad_blocks(ground=True)
                )
            insert = self._quad_blocks(ground=False)
            self.expect_kw("where")
            return UpdateOp(
                "modify", insert=insert,
                pattern=self._group_graph_pattern(),
            )
        self.expect_kw("delete")
        if self._accept_name("data"):
            return UpdateOp(
                "delete_data", delete=self._quad_blocks(ground=True)
            )
        if self.accept_kw("where"):
            # DELETE WHERE shorthand: the quad pattern is both the
            # delete template and the WHERE pattern (Update §3.1.3.2)
            quads = self._quad_blocks(ground=False)
            pattern = tuple(Graph(qb.graph, qb.triples) for qb in quads)
            return UpdateOp("modify", delete=quads, pattern=pattern)
        delete = self._quad_blocks(ground=False)
        insert: tuple = ()
        if self.accept_kw("insert"):
            insert = self._quad_blocks(ground=False)
        self.expect_kw("where")
        return UpdateOp(
            "modify", delete=delete, insert=insert,
            pattern=self._group_graph_pattern(),
        )

    def _quad_blocks(self, ground: bool) -> tuple:
        """``{ (GRAPH VarOrIri { TriplesTemplate })+ }`` — the engine's
        named graphs are documents, so update quads must be
        graph-scoped; ground=True (the DATA forms) additionally rejects
        variables anywhere (SPARQL Update §3.1.1: ground triples only;
        blank nodes are out of the subset — fresh-bnode minting is
        nondeterministic, against the engine's deterministic-id rule)."""
        self.expect_op("{")
        blocks: list[QuadBlock] = []
        while not self.accept_op("}"):
            if not self.accept_kw("graph"):
                raise SparqlUnsupported(
                    "update quads must be GRAPH-scoped (the engine has "
                    "no default graph — its named graphs are documents)"
                )
            term = self._term()
            if not isinstance(term, (Var, Iri)):
                raise SparqlError("GRAPH needs a variable or IRI")
            if ground and not isinstance(term, Iri):
                raise SparqlError(
                    "INSERT/DELETE DATA needs a constant graph IRI"
                )
            self.expect_op("{")
            triples: list[TriplePattern] = []
            while not self.accept_op("}"):
                triples.extend(self._triples_block(template=True))
                self.accept_op(".")
            if not triples:
                raise SparqlError("empty GRAPH block in update quads")
            for tp in triples:
                if ground and any(
                    isinstance(t, Var) for t in (tp.s, tp.p, tp.o)
                ):
                    raise SparqlError(
                        "INSERT/DELETE DATA must be ground (no variables)"
                    )
                if isinstance(tp.s, Lit):
                    raise SparqlError("a literal cannot be a quad subject")
                if isinstance(tp.p, Lit):
                    raise SparqlError(
                        "a literal cannot be a quad predicate"
                    )
            blocks.append(QuadBlock(term, tuple(triples)))
            self.accept_op(".")
        if not blocks:
            raise SparqlError("empty update quad set")
        return tuple(blocks)

    def _select(self) -> Query:
        q = Query(form="select", projection=None)
        q.distinct = bool(self.accept_kw("distinct"))
        if self.accept_op("*"):
            q.projection = None
        else:
            proj: list = []
            while True:
                k, v = self.peek()
                if k == "VAR":
                    self.next()
                    proj.append(Var(v[1:]))
                elif k == "OP" and v == "(":
                    proj.append(self._agg_projection())
                else:
                    break
            if not proj:
                raise SparqlError("empty SELECT projection")
            q.projection = proj
        self.accept_kw("where")
        q.pattern = self._group_graph_pattern()
        self._modifiers(q)
        return q

    def _ask(self) -> Query:
        q = Query(form="ask", projection=[])
        self.accept_kw("where")  # WhereClause ::= 'WHERE'? GroupGraphPattern
        q.pattern = self._group_graph_pattern()
        return q

    def _construct(self) -> Query:
        """CONSTRUCT { template } WHERE { pattern } [LIMIT/OFFSET] —
        rule-based triple derivation: each solution instantiates every
        template triple; the result is a graph (set semantics)."""
        q = Query(form="construct", projection=[])
        self.expect_op("{")
        while not self.accept_op("}"):
            # template=True: Verb grammar only — a path operator (^ / |)
            # errors here instead of silently desugaring into the template
            q.template.extend(self._triples_block(template=True))
            self.accept_op(".")
        if not q.template:
            raise SparqlError("empty CONSTRUCT template")
        self.accept_kw("where")
        q.pattern = self._group_graph_pattern()
        self._modifiers(q)
        if q.order_by or q.group_by or q.having is not None:
            raise SparqlUnsupported(
                "ORDER BY / GROUP BY / HAVING do not apply to a "
                "CONSTRUCT graph"
            )
        return q

    def _describe(self) -> Query:
        """``DESCRIBE (VarOrIri+ | '*') ['WHERE'? { pattern }]`` (r5
        wave 5) — returns an RDF graph describing the target resources.
        The spec leaves the description's extent to implementations;
        this engine returns the per-document CONCISE BOUNDED
        DESCRIPTION: every triple whose subject is a target, plus —
        transitively, within the same document — the triples of blank
        nodes reachable through object positions (so nested bnode
        structures and RDF lists describe whole). Solution modifiers
        are not accepted (the output is an unordered graph)."""
        q = Query(form="describe", projection=[])
        if self.accept_op("*"):
            q.projection = None  # every variable the pattern binds
        else:
            targets: list = []
            while True:
                k, v = self.peek()
                if k == "VAR":
                    self.next()
                    targets.append(Var(v[1:]))
                elif k in ("IRIREF", "PNAME") or (k, v) == ("OP", ":"):
                    targets.append(self._term())
                else:
                    break
            if not targets:
                raise SparqlError("empty DESCRIBE target list")
            q.projection = targets
        if self.accept_kw("where") or self.peek()[:2] == ("OP", "{"):
            q.pattern = self._group_graph_pattern()
        if q.projection is None and not q.pattern:
            raise SparqlError("DESCRIBE * needs a WHERE pattern")
        return q

    _AGG_FNS = {"count", "sum", "min", "max", "avg", "group_concat",
                "sample"}

    def _agg_projection(self) -> Agg:
        self.expect_op("(")
        k, v = self.next()
        fn = v.lower()
        if not (
            (k == "KW" and fn == "count")
            or (k == "NAME" and fn in self._AGG_FNS)
        ):
            raise SparqlUnsupported(
                f"aggregate {v!r} is not in the subset "
                "(COUNT/SUM/MIN/MAX/AVG/GROUP_CONCAT/SAMPLE)"
            )
        agg = self._agg_body(fn)
        self.expect_kw("as")
        k, v = self.next()
        if k != "VAR":
            raise SparqlError(f"AS needs ?alias, got {v!r}")
        self.expect_op(")")
        return Agg(
            fn=agg.fn, distinct=agg.distinct, arg=agg.arg,
            alias=v[1:], sep=agg.sep,
        )

    def _agg_body(self, fn: str) -> Agg:
        """``fn ( [DISTINCT] ?v|* [; SEPARATOR="s"] )`` — shared by the
        projection form (which adds ``AS ?alias``) and bare aggregate
        calls inside a HAVING expression (alias None)."""
        self.expect_op("(")
        distinct = bool(self.accept_kw("distinct"))
        if distinct and fn not in ("count", "group_concat"):
            # DISTINCT dedups TERMS; sum/avg would dedup post-cast
            # numerics (wrong) — only COUNT/GROUP_CONCAT(DISTINCT) are
            # in the subset (both operate on the terms themselves)
            raise SparqlUnsupported(
                f"{fn.upper()}(DISTINCT) is not in the subset"
            )
        if self.accept_op("*"):
            if fn != "count":
                raise SparqlError(f"{fn.upper()}(*) is not valid SPARQL")
            arg = None
        else:
            k, v = self.next()
            if k != "VAR":
                raise SparqlError(f"{fn.upper()} needs ?var, got {v!r}")
            arg = Var(v[1:])
        sep = None
        if self.accept_op(";"):
            if fn != "group_concat":
                raise SparqlError(
                    f"only GROUP_CONCAT takes a SEPARATOR, not {fn.upper()}"
                )
            k, v = self.next()
            if not (k == "NAME" and v.lower() == "separator"):
                raise SparqlError(f"expected SEPARATOR, got {v!r}")
            self.expect_op("=")
            k, v = self.next()
            if k != "STRING":
                raise SparqlError("SEPARATOR needs a string literal")
            sep = _unescape(v[1:-1])
        if fn == "group_concat" and sep is None:
            sep = " "  # SPARQL 1.1 §18.5.1.7 default separator
        self.expect_op(")")
        return Agg(fn=fn, distinct=distinct, arg=arg, alias=None, sep=sep)

    def _modifiers(self, q: Query) -> None:
        if self.accept_kw("group"):
            self.expect_kw("by")
            while self.peek()[0] == "VAR":
                q.group_by.append(Var(self.next()[1][1:]))
            if not q.group_by:
                raise SparqlError("empty GROUP BY")
        if self.accept_kw("having"):
            # HAVING HavingCondition+ — each condition a bracketted
            # expression; several conditions conjoin (SPARQL 18.2.4.4).
            # Aggregate calls are legal inside (alias-less Agg nodes).
            self._in_having = True
            try:
                cond = self._expr_primary_paren()
                while self.peek()[:2] == ("OP", "("):
                    cond = BoolOp("&&", cond, self._expr_primary_paren())
            finally:
                self._in_having = False
            q.having = cond
        if self.accept_kw("order"):
            self.expect_kw("by")
            while True:
                k, v = self.peek()
                if k == "VAR":
                    self.next()
                    q.order_by.append((Var(v[1:]), True))
                elif k == "KW" and v in ("asc", "desc"):
                    self.next()
                    self.expect_op("(")
                    kk, vv = self.next()
                    if kk != "VAR":
                        raise SparqlError(f"ORDER BY {v.upper()} needs ?var")
                    self.expect_op(")")
                    q.order_by.append((Var(vv[1:]), v == "asc"))
                else:
                    break
            if not q.order_by:
                raise SparqlError("empty ORDER BY")
        # LIMIT/OFFSET in either order, each at most once
        seen = set()
        while True:
            if "limit" not in seen and self.accept_kw("limit"):
                q.limit = self._int()
                seen.add("limit")
            elif "offset" not in seen and self.accept_kw("offset"):
                q.offset = self._int()
                seen.add("offset")
            else:
                break

    def _int(self) -> int:
        k, v = self.next()
        if k != "NUMBER" or not re.fullmatch(r"\d+", v):
            raise SparqlError(f"expected a non-negative integer, got {v!r}")
        return int(v)

    def _group_graph_pattern(self) -> tuple:
        self.expect_op("{")
        elements: list = []
        while True:
            k, v = self.peek()
            if k == "OP" and v == "}":
                self.next()
                break
            if k == "KW" and v == "filter":
                self.next()
                # FILTER [NOT] EXISTS {…} | FILTER ( expr ) | FILTER f(args)
                if self.accept_kw("exists"):
                    elements.append(
                        Exists(self._group_graph_pattern(), negated=False)
                    )
                elif self.accept_kw("not"):
                    self.expect_kw("exists")
                    elements.append(
                        Exists(self._group_graph_pattern(), negated=True)
                    )
                elif self.peek() == ("OP", "("):
                    elements.append(Filter(self._expr_primary_paren()))
                else:
                    elements.append(Filter(self._call()))
            elif k == "KW" and v == "optional":
                self.next()
                elements.append(Optional_(self._group_graph_pattern()))
            elif k == "KW" and v == "graph":
                self.next()
                term = self._term()
                if not isinstance(term, (Var, Iri)):
                    raise SparqlError("GRAPH needs a variable or IRI")
                elements.append(Graph(term, self._group_graph_pattern()))
            elif k == "OP" and v == "{":
                left = self._group_graph_pattern()
                if (
                    len(left) == 1
                    and isinstance(left[0], SubSelect)
                    and self.peek()[:2] != ("KW", "union")
                ):
                    # a braced sub-select joining sibling elements:
                    # `{ { SELECT ... } ?s ?p ?o }`
                    elements.append(left[0])
                    self.accept_op(".")
                    continue
                self.expect_kw("union")
                right = self._group_graph_pattern()
                u = Union_(left, right)
                while self.accept_kw("union"):
                    u = Union_((u,), self._group_graph_pattern())
                elements.append(u)
            elif k == "KW" and v == "bind":
                self.next()
                self.expect_op("(")
                expr = self._expr()
                self.expect_kw("as")
                kk, vv = self.next()
                if kk != "VAR":
                    raise SparqlError(f"BIND needs AS ?var, got {vv!r}")
                self.expect_op(")")
                elements.append(Bind(expr, vv[1:]))
            elif k == "KW" and v == "values":
                self.next()
                elements.append(self._values())
            elif k == "KW" and v == "minus":
                self.next()
                elements.append(Minus(self._group_graph_pattern()))
            elif k == "KW" and v == "service":
                raise SparqlUnsupported(
                    "SERVICE is out of the supported subset"
                )
            elif k == "KW" and v == "select":
                # GroupGraphPattern ::= '{' (SubSelect | ...) '}' — a
                # sub-select is the ENTIRE group; nothing may follow it
                self.next()
                if elements:
                    raise SparqlError(
                        "a sub-SELECT must be the only element of its "
                        "group"
                    )
                elements.append(SubSelect(self._select()))
                k2, v2 = self.peek()
                if not (k2 == "OP" and v2 == "}"):
                    raise SparqlError(
                        "a sub-SELECT must be the only element of its "
                        f"group; found {v2!r} after it"
                    )
            else:
                elements.extend(self._triples_block())
            self.accept_op(".")
        return tuple(elements)

    def _triples_block(self, template: bool = False) -> list:
        """template=True parses CONSTRUCT-template triples: the grammar
        there allows only Verb (IRI / var / `a`), never path expressions."""
        subj = self._term()
        out: list = []
        while True:
            path = self._verb() if template else self._path()
            while True:
                out.extend(self._expand_path(subj, path, self._term()))
                if not self.accept_op(","):
                    break
            if not self.accept_op(";"):
                break
            # allow trailing ';' before '.', '}' etc.
            k, v = self.peek()
            if not (
                k in ("VAR", "IRIREF", "PNAME")
                or (k == "KW" and v == "a")
                or (k == "OP" and v in ("^", "(", "!", ":"))
            ):
                break
        return out

    # -- property paths in query position ------------------------------------
    # SPARQL 18.2.2.4: non-closure paths translate to triple patterns with
    # fresh variables (sequence), swapped positions (inverse), and UNION
    # (alternative) — pure desugaring, no new algebra. Closure paths
    # (+ * ?) would need a fixpoint in query position and stay out of the
    # subset (the SHACL engine evaluates them shape-side, shacl/compile.py).
    def _path(self):
        """Path := Seq ('|' Seq)*; Seq := Elt ('/' Elt)*;
        Elt := '^'? (iri | 'a' | '(' Path ')'). A bare variable is a
        valid verb but cannot combine with path operators (the SPARQL
        grammar splits Verb into VarOrIri | Path)."""
        alts = [self._path_seq()]
        while self.accept_op("|"):
            alts.append(self._path_seq())
        if len(alts) > 1:
            if any(isinstance(a, Var) for a in alts):
                raise SparqlError("a variable cannot be a path step")
            return ("alt", alts)
        return alts[0]

    def _path_seq(self):
        elts = [self._path_elt()]
        while self.accept_op("/"):
            elts.append(self._path_elt())
        if len(elts) > 1:
            if any(isinstance(e, Var) for e in elts):
                raise SparqlError("a variable cannot be a path step")
            return ("seq", elts)
        return elts[0]

    def _path_elt(self):
        inverse = self.accept_op("^")
        if self.accept_op("!"):
            # negated property set (r5 wave 7): !iri / !a / !^iri /
            # !(iri|^iri|...) / !() — desugared per SPARQL 18.2.2.4 in
            # _expand_path; '^!(...)' composes through the generic
            # endpoint swap like every other inverse
            inner = ("nps", self._negated_property_set())
        elif self.accept_op("("):
            inner = self._path()
            self.expect_op(")")
        elif self.accept_kw("a"):
            inner = Iri(RDF_TYPE)
        else:
            t = self._term()
            if isinstance(t, Var):
                if inverse:
                    raise SparqlError("a variable cannot be a path step")
                inner = t
            elif isinstance(t, Iri):
                inner = t
            else:
                raise SparqlError(f"a path step must be an IRI, got {t!r}")
        k, v = self.peek()
        if k == "OP" and v in ("*", "+", "?"):
            self.next()
            if isinstance(inner, Iri):
                # plain IRI step (r5 wave 3): the fixpoint runs straight
                # off the predicate-filtered scan
                inner = ClosurePath(inner.value, v)
            elif isinstance(inner, Var):
                raise SparqlError("a variable cannot be a path step")
            else:
                # composite sub-path (r5 wave 5): desugar ONE hop here;
                # the compiler builds the edge frame from it and runs
                # the same path-doubling fixpoint
                if _path_contains_closure(inner):
                    raise SparqlUnsupported(
                        "nested closure modifiers ((p*)+ and the like) "
                        "are out of the subset"
                    )
                src, dst = self._fresh_path_var(), self._fresh_path_var()
                elements = tuple(self._expand_path(src, inner, dst))
                inner = ClosurePath(elements, v, src.name, dst.name)
            k, v = self.peek()
            if k == "OP" and v in ("*", "+", "?"):
                raise SparqlUnsupported("stacked closure modifiers")
        if inverse and isinstance(inner, Var):
            # ^(?v) — the parenthesized spelling of an invalid var step
            raise SparqlError("a variable cannot be a path step")
        return ("inv", inner) if inverse else inner

    def _fresh_path_var(self) -> Var:
        self._path_n = getattr(self, "_path_n", 0) + 1
        return Var(f"__path_{self._path_n}")

    def _negated_property_set(self) -> tuple:
        """PathNegatedPropertySet := PathOneInPropertySet |
        '(' (PathOneInPropertySet ('|' ...)*)? ')';
        PathOneInPropertySet := iri | 'a' | '^' (iri | 'a').
        Returns (forward_iris, inverse_iris)."""
        fwd: list[str] = []
        inv: list[str] = []

        def one() -> None:
            tgt = inv if self.accept_op("^") else fwd
            if self.accept_kw("a"):
                tgt.append(RDF_TYPE)
                return
            t = self._term()
            if not isinstance(t, Iri):
                raise SparqlError(
                    f"a negated property set needs IRIs, got {t!r}"
                )
            tgt.append(t.value)

        if self.accept_op("("):
            if not self.accept_op(")"):
                one()
                while self.accept_op("|"):
                    one()
                self.expect_op(")")
        else:
            one()
        return tuple(fwd), tuple(inv)

    def _expand_path(self, s, path, o) -> list:
        """Desugar one (s, path, o) into pattern elements."""
        if isinstance(path, (Iri, Var, ClosurePath)):
            return [TriplePattern(s, path, o)]
        kind, payload = path
        if kind == "inv":
            # also covers ^(p*): the closure of the inverse is the
            # inverse of the closure, so swapping the endpoints suffices
            return self._expand_path(o, payload, s)
        if kind == "seq":
            out: list = []
            cur = s
            for i, step in enumerate(payload):
                nxt = o if i == len(payload) - 1 else self._fresh_path_var()
                out.extend(self._expand_path(cur, step, nxt))
                cur = nxt
            return out
        if kind == "alt":
            branches = [tuple(self._expand_path(s, p, o)) for p in payload]
            u = Union_(branches[0], branches[1])
            for b in branches[2:]:
                u = Union_((u,), b)
            return [u]
        if kind == "nps":
            # SPARQL 18.2.2.4: !(p...|^q...) splits by direction — a
            # fresh-var triple pattern with a NOT IN filter per side;
            # mixed sets UNION the two sides, and !() (empty set) is the
            # unconstrained forward hop
            fwd, inv = payload

            def branch(subj, obj, excl) -> tuple:
                pv = self._fresh_path_var()
                els: list = [TriplePattern(subj, pv, obj)]
                if excl:
                    els.append(Filter(InList(
                        pv, tuple(Iri(x) for x in excl), True
                    )))
                return tuple(els)

            if inv and not fwd:
                return list(branch(o, s, inv))
            if not inv:
                return list(branch(s, o, fwd))
            return [Union_(branch(s, o, fwd), branch(o, s, inv))]
        raise SparqlError(f"unknown path form {kind!r}")  # pragma: no cover

    def _verb(self):
        if self.accept_kw("a"):
            return Iri(RDF_TYPE)
        t = self._term()
        if isinstance(t, Lit):
            raise SparqlError("a literal cannot be a predicate")
        return t

    def _values(self) -> Values:
        """VALUES ?v { c... }  |  VALUES (?a ?b) { (c1 c2) ... }.
        UNDEF marks an unconstrained cell."""
        if self.accept_op("("):
            names = []
            while self.peek()[0] == "VAR":
                names.append(self.next()[1][1:])
            self.expect_op(")")
            if not names:
                raise SparqlError("empty VALUES variable list")
            grouped = True
        else:
            k, v = self.next()
            if k != "VAR":
                raise SparqlError(f"VALUES needs ?var, got {v!r}")
            names = [v[1:]]
            grouped = False
        self.expect_op("{")
        rows = []
        while not self.accept_op("}"):
            if grouped:
                self.expect_op("(")
                row = []
                while not self.accept_op(")"):
                    row.append(self._values_cell())
                if len(row) != len(names):
                    raise SparqlError(
                        f"VALUES row arity {len(row)} != {len(names)}"
                    )
            else:
                row = [self._values_cell()]
            rows.append(tuple(row))
        if not rows:
            raise SparqlError("empty VALUES block")
        return Values(tuple(names), tuple(rows))

    def _values_cell(self):
        k, v = self.peek()
        if k == "NAME" and v.upper() == "UNDEF":
            self.next()
            return None  # unconstrained cell (r5 wave 5)
        t = self._term()
        if isinstance(t, Var):
            raise SparqlError("VALUES cells must be constants")
        return t

    def _term(self):
        k, v = self.next()
        if k == "VAR":
            return Var(v[1:])
        if k == "IRIREF":
            return Iri(v[1:-1])
        if k == "PNAME":
            pfx, local = v.split(":", 1)
            if pfx not in self.prefixes:
                raise SparqlError(f"undeclared prefix {pfx!r}")
            return Iri(self.prefixes[pfx] + local)
        if k == "OP" and v == ":":
            # default-prefix pname ':local' (tokenized as OP ':' + NAME
            # — the PNAME regex requires prefix chars). Subset limits,
            # each with a clear error: the local must be a plain NAME
            # (a keyword-shaped local would have been lowercased by the
            # tokenizer, silently corrupting the IRI) and bare ':'
            # (empty local) stays out.
            if "" not in self.prefixes:
                raise SparqlError("undeclared default prefix ':'")
            kk, vv = self.peek()
            if kk == "NAME":
                self.next()
                return Iri(self.prefixes[""] + vv)
            if kk == "KW":
                raise SparqlError(
                    f"default-prefix local {vv!r} collides with a "
                    "keyword — use a named prefix for it"
                )
            raise SparqlError(
                "default prefix ':' needs a simple NAME local part"
            )
        if k == "STRING":
            value = _unescape(v[1:-1])
            kk, vv = self.peek()
            if kk == "LANGTAG":
                self.next()
                return Lit(value, lang=vv[1:].lower())
            if kk == "OP" and vv == "^^":
                self.next()
                dt = self._term()
                if not isinstance(dt, Iri):
                    raise SparqlError("^^ needs an IRI datatype")
                return Lit(value, datatype=dt.value)
            return Lit(value)
        if k == "NUMBER":
            dt = XSD + ("integer" if re.fullmatch(r"[+-]?\d+", v) else "decimal")
            return Lit(v, datatype=dt)
        if k == "KW" and v in ("true", "false"):
            return Lit(v, datatype=XSD + "boolean")
        raise SparqlError(f"expected a term, got {v!r}")

    # -- filter expressions --------------------------------------------------
    def _expr_primary_paren(self):
        self.expect_op("(")
        e = self._expr()
        self.expect_op(")")
        return e

    def _expr(self):
        e = self._expr_and()
        while self.accept_op("||"):
            e = BoolOp("||", e, self._expr_and())
        return e

    def _expr_and(self):
        e = self._expr_cmp()
        while self.accept_op("&&"):
            e = BoolOp("&&", e, self._expr_cmp())
        return e

    def _expr_cmp(self):
        e = self._expr_unary()
        k, v = self.peek()
        if k == "OP" and v in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return Cmp(v, e, self._expr_unary())
        if k == "NAME" and v.lower() == "in":
            self.next()
            return InList(e, self._in_terms(), negated=False)
        if k == "KW" and v == "not":
            self.next()
            k, v = self.next()
            if not (k == "NAME" and v.lower() == "in"):
                raise SparqlError(f"expected IN after NOT, got {v!r}")
            return InList(e, self._in_terms(), negated=True)
        return e

    def _in_terms(self) -> tuple:
        """Constant term list of ``IN ( t, ... )`` — may be empty
        (SPARQL: IN () is false, NOT IN () is true)."""
        self.expect_op("(")
        terms: list = []
        if not self.accept_op(")"):
            while True:
                t = self._term()
                if not isinstance(t, (Iri, Lit)):
                    raise SparqlUnsupported(
                        "IN list elements must be constant terms"
                    )
                terms.append(t)
                if self.accept_op(")"):
                    break
                self.expect_op(",")
        return tuple(terms)

    def _expr_unary(self):
        if self.accept_op("!"):
            return Not(self._expr_unary())
        k, v = self.peek()
        if k == "KW" and v == "exists":
            self.next()
            return ExistsExpr(self._group_graph_pattern(), negated=False)
        if k == "KW" and v == "not":
            self.next()
            self.expect_kw("exists")
            return ExistsExpr(self._group_graph_pattern(), negated=True)
        if k == "OP" and v == "(":
            return self._expr_primary_paren()
        if k == "NAME" or (k == "KW" and v == "count"):
            return self._call()
        return self._term()

    _BUILTINS = {
        "regex", "strstarts", "strends", "contains", "strlen", "str",
        "lang", "datatype", "bound", "isiri", "isuri", "isblank",
        "isliteral",
        # string builtins (r5 wave 3) — plain-literal outputs
        "ucase", "lcase", "substr", "concat", "replace",
        "strbefore", "strafter",
        # conditional / language builtins (r5 wave 4)
        "if", "coalesce", "langmatches",
        # numeric / term / hash / dateTime builtins (r5 wave 7)
        "abs", "round", "ceil", "floor", "isnumeric", "sameterm",
        "md5", "sha1", "sha256", "sha384", "sha512",
        "year", "month", "day", "hours", "minutes", "seconds", "tz",
        # named so the degrade message can say WHY they're out
        "now", "rand", "uuid", "struuid", "strdt", "strlang",
        "timezone",
    }

    def _call(self):
        k, v = self.next()
        name = v.lower()
        if self._in_having and name in self._AGG_FNS:
            return self._agg_body(name)
        if name not in self._BUILTINS:
            raise SparqlUnsupported(f"builtin {v!r} is not in the subset")
        self.expect_op("(")
        args: list = []
        if not self.accept_op(")"):
            while True:
                args.append(self._expr())
                if self.accept_op(")"):
                    break
                self.expect_op(",")
        return Call(name, tuple(args))


_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
            '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    def repl(m: re.Match) -> str:
        u, big, ch = m.group("u"), m.group("U"), m.group("c")
        if u is not None:
            return chr(int(u, 16))
        if big is not None:
            return chr(int(big, 16))
        if ch in _ESCAPES:
            return _ESCAPES[ch]
        raise SparqlError(f"invalid string escape \\{ch}")

    return re.sub(
        r"\\(?:u(?P<u>[0-9A-Fa-f]{4})|U(?P<U>[0-9A-Fa-f]{8})|(?P<c>.))",
        repl,
        s,
    )


def parse_sparql(text: str) -> Query:
    """Parse a SPARQL SELECT/ASK string into the subset AST."""
    return _Parser(text).parse()


def uses_graph_clause(q: Query) -> bool:
    """True when the query's pattern contains a GRAPH group — callers
    querying a doc_id-less frame (the canonical graph) reject such
    queries up front instead of dying mid-plan on the missing column."""

    def expr_walk(e: object) -> bool:
        if isinstance(e, ExistsExpr):
            return walk(e.pattern)
        if isinstance(e, (BoolOp, Cmp)):
            return expr_walk(e.left) or expr_walk(e.right)
        if isinstance(e, (Not, InList)):
            return expr_walk(e.expr)
        if isinstance(e, Call):
            return any(expr_walk(a) for a in e.args)
        return False

    def walk(elements: tuple) -> bool:
        for el in elements:
            if isinstance(el, Graph):
                return True
            if isinstance(el, (Optional_, Exists, Minus)) and walk(el.pattern):
                return True
            if isinstance(el, Union_) and (walk(el.left) or walk(el.right)):
                return True
            if isinstance(el, SubSelect) and walk(el.query.pattern):
                return True
            if isinstance(el, Filter) and expr_walk(el.expr):
                return True
        return False

    return walk(q.pattern)


_TEMPLATE_RE = re.compile(r"\$\{\s*([A-Za-z_][A-Za-z0-9_.]*)\s*(\?[^}]*)?\}")
_TEMPLATE_IF_RE = re.compile(
    r"<#if\s+([A-Za-z_][A-Za-z0-9_.]*)\?has_content\s*>(.*?)</#if>",
    re.S,
)


def bind_template(text: str, params: dict[str, object]) -> str:
    """Freemarker-style ``${name}`` substitution — the reference's
    template mechanism (`SparqlQueryLoad.java` renders
    `resources/sparql/*.sparql` with `${task.graph}`-style parameters).
    Dotted names are literal keys (``params["task.graph"]``); Freemarker
    formatter suffixes (``${limitSize?string.computer}``) are accepted
    and ignored — every value substitutes as ``str(value)``, raw, exactly
    like Freemarker's default (so quote/bracket the placeholder in the
    template, not the value). ``<#if name?has_content>…</#if>`` blocks
    (the one directive the reference's templates use,
    `append-task-result-graph.sparql`) keep their body iff the parameter
    is present and non-empty — Freemarker's has_content. A missing
    ``${name}`` parameter raises KeyError; the subsequent parse rejects
    any malformed result, so a bad substitution can't silently change
    query semantics."""

    def if_repl(m: re.Match) -> str:
        val = params.get(m.group(1))
        return m.group(2) if val not in (None, "") else ""

    text = _TEMPLATE_IF_RE.sub(if_repl, text)

    def repl(m: re.Match) -> str:
        name = m.group(1)
        if name not in params:
            raise KeyError(f"missing template parameter {name!r}")
        return str(params[name])

    return _TEMPLATE_RE.sub(repl, text)


# --------------------------------------------------------------------------
# Compiler: AST -> DataFrame
# --------------------------------------------------------------------------

_XSD_STRING = XSD + "string"
_NUMERIC_DTS = {
    XSD + n
    for n in ("integer", "decimal", "double", "float", "int", "long",
              "short", "byte", "nonNegativeInteger", "positiveInteger")
}


@dataclass
class _Binding:
    """One bound variable: the value column plus its term metadata.

    kind/datatype/lang are column NAMES in the solution frame when the
    var came from an object position, else synthesized expressions."""

    val: str  # column name
    kind: str | None = None  # column name; None => derive from value
    datatype: str | None = None  # column name; None => NULL
    lang: str | None = None  # column name; None => NULL
    is_graph: bool = False  # binds the doc graph (binary doc_id column)

    def kind_col(self) -> Column:
        if self.kind is not None:
            return F.col(self.kind)
        if self.is_graph:
            return F.lit("iri")
        # NULL value => UNBOUND (an OPTIONAL left join can null a
        # subject/predicate-position var too): the kind must be NULL,
        # not 'iri' — else isIRI(?unbound) reads true and type-test
        # filters keep rows the spec drops
        return F.when(
            F.col(self.val).startswith("_:"), F.lit("bnode")
        ).when(F.col(self.val).isNotNull(), F.lit("iri"))

    def datatype_col(self) -> Column:
        return F.col(self.datatype) if self.datatype else F.lit(None).cast("string")

    def lang_col(self) -> Column:
        return F.col(self.lang) if self.lang else F.lit(None).cast("string")

    def display_col(self) -> Column:
        """Value as projected to the user (graph ids re-hexed)."""
        if self.is_graph:
            return F.lower(F.hex(F.col(self.val)))
        return F.col(self.val)


class _Compiler:
    def __init__(self, triples: DataFrame):
        self.triples = triples
        self.n = 0
        self._closure_cache: dict = {}

    def fresh(self, stem: str) -> str:
        self.n += 1
        return f"__{stem}_{self.n}"

    # -- closure paths (r5 wave 3) -------------------------------------------
    def _closure_pairs(self, cp: ClosurePath, graph: object) -> DataFrame:
        """Reachability pairs of ``cp.pred`` under the closure operator:
        columns ``[doc_id,] src, dst, dst_kind, dst_dt, dst_lang``.

        ``+`` runs a per-predicate path-doubling fixpoint (R ∪ R∘R per
        round — O(log diameter) materialized rounds, each round
        localCheckpointed to truncate lineage with superseded
        checkpoints released immediately; the same loop discipline as
        the SHACL engine's shape-side closure, shacl/compile.py).
        ``*`` additionally unions the zero step over the graph's
        resources; ``?`` is just identity ∪ one hop (no fixpoint).
        Cache lifetime contract (VERDICT r5 what's-wrong #3): entries in
        ``self._closure_cache`` live exactly as long as this compilation
        — every ``sparql_select``/``sparql_update`` call compiles fresh,
        so a cached reachability frame can never be served against a
        differently-filtered triple frame. Do not reuse a compiled query
        object across triple frames. The loop also temporarily sizes the
        SESSION-global ``spark.sql.shuffle.partitions`` (restored in
        ``finally``) — the same single-query-at-a-time contract as
        kg/canonicalize.py: concurrent queries in one session must use
        ``spark.newSession()``.

        Inside GRAPH the pairs carry doc_id and every join is keyed on
        it (per-document reachability — a constant graph IRI prunes the
        slice BEFORE the fixpoint); without GRAPH the closure runs over
        the union graph, which is what the query asks for. NOTE: the
        frame the final round returns pins its checkpoint blocks for
        the session; bench/driver loops sweep them via runtime.py."""
        scoped = graph is not None
        gkey = graph.value if isinstance(graph, Iri) else None
        key = (repr(cp.pred), cp.op, scoped, gkey)
        if key in self._closure_cache:
            return self._closure_cache[key]
        t = self.triples
        if gkey is not None:
            t = t.filter(F.col("doc_id") == F.lit(graph_doc_id_bytes(gkey)))
        gcols = ["doc_id"] if scoped else []
        if isinstance(cp.pred, str):
            base = (
                t.filter(F.col("pred") == cp.pred)
                .select(
                    *gcols,
                    F.col("subj").alias("src"),
                    F.col("obj_value").alias("dst"),
                    F.col("obj_kind").alias("dst_kind"),
                    F.col("obj_datatype").alias("dst_dt"),
                    F.col("obj_lang").alias("dst_lang"),
                )
                .distinct()
            )
        else:
            # composite one-hop step (r5 wave 5): compile the desugared
            # elements through the regular machinery — sequence hops
            # join, inverse hops swap, alternatives union — and project
            # the hop's endpoints as the edge frame. The fixpoint below
            # is step-agnostic. A graph VARIABLE threads through the
            # hop compile so per-document closure discipline holds; a
            # constant graph compiles against the same variable and
            # filters, keeping doc_id available for the loop's keys.
            gv = Var("__cg") if scoped else None
            inner_df, ibinds = self.compile_pattern(cp.pred, gv)
            if inner_df is None:
                raise SparqlError("empty composite path step")
            gsel: list[Column] = []
            if scoped:
                gb = ibinds["__cg"]
                if gkey is not None:
                    inner_df = inner_df.filter(
                        F.col(gb.val) == F.lit(graph_doc_id_bytes(gkey))
                    )
                gsel = [F.col(gb.val).alias("doc_id")]
            sb, ob = ibinds[cp.src], ibinds[cp.dst]
            base = inner_df.select(
                *gsel,
                F.col(sb.val).alias("src"),
                F.col(ob.val).alias("dst"),
                ob.kind_col().alias("dst_kind"),
                ob.datatype_col().alias("dst_dt"),
                ob.lang_col().alias("dst_lang"),
            ).distinct()
        ident = None
        if cp.op in ("*", "?"):
            derived_kind = F.when(
                F.col("node").startswith("_:"), F.lit("bnode")
            ).otherwise(F.lit("iri"))
            # r6: one explode over a single triples scan instead of a
            # union of a subj-scan and an obj-scan — Catalyst does no CSE
            # across union branches, so the union paid the full triples
            # scan twice (profiled as the two hottest stages of the
            # closure queries); literal objects surface as NULL array
            # elements and drop in the filter
            nodes = (
                t.select(
                    *gcols,
                    F.explode(
                        F.array(
                            F.col("subj"),
                            F.when(
                                F.col("obj_kind") != "literal",
                                F.col("obj_value"),
                            ),
                        )
                    ).alias("node"),
                )
                .filter(F.col("node").isNotNull())
                .distinct()
            )
            ident = nodes.select(
                *gcols,
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                derived_kind.alias("dst_kind"),
                F.lit(None).cast("string").alias("dst_dt"),
                F.lit(None).cast("string").alias("dst_lang"),
            )
        if cp.op == "?":
            out = base.unionByName(ident).distinct()
        else:
            from harvesting_validator_spark.runtime import (
                persistent_rdd_ids,
                unpersist_rdds,
            )

            spark = self.triples.sparkSession
            pre = persistent_rdd_ids(spark)
            reach = base.localCheckpoint()
            held = persistent_rdd_ids(spark) - pre
            n = reach.count()
            # size the loop's shuffles to the edge count (the house
            # pattern for iterative plans, kg/canonicalize.py): each
            # doubling round is a join + distinct over the reach table,
            # and near-empty reduce tasks dominate small fixpoints.
            # Session-width stays the ceiling, so corpus-scale closures
            # keep their configured parallelism.
            prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
            loop_parts = max(8, min(int(prev_parts), n // 10000 + 4))
            spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
            try:
                for _ in range(16):  # paths up to length 2^16
                    # a literal has no outgoing edges: never compose
                    # THROUGH a literal dst, else a literal whose text
                    # equals a subject's IRI/bnode label creates
                    # phantom reachability (review-wave fix; literal
                    # dsts stay as FINAL endpoints)
                    cond = (
                        (F.col("x.dst") == F.col("y.src"))
                        & (F.col("x.dst_kind") != "literal")
                    )
                    if scoped:
                        cond = cond & (
                            F.col("x.doc_id") == F.col("y.doc_id")
                        )
                    ext = (
                        reach.alias("x")
                        .join(reach.alias("y"), cond)
                        .select(
                            *[F.col(f"x.{c}").alias(c) for c in gcols],
                            F.col("x.src").alias("src"),
                            F.col("y.dst").alias("dst"),
                            F.col("y.dst_kind").alias("dst_kind"),
                            F.col("y.dst_dt").alias("dst_dt"),
                            F.col("y.dst_lang").alias("dst_lang"),
                        )
                    )
                    nxt = (
                        reach.unionByName(ext).distinct().localCheckpoint()
                    )
                    m = nxt.count()
                    new_ids = persistent_rdd_ids(spark) - pre - held
                    unpersist_rdds(spark, held)
                    held = new_ids
                    reach = nxt
                    if m == n:
                        break
                    n = m
                else:
                    raise SparqlError(
                        f"transitive closure of <{cp.pred}> did not "
                        "converge in 16 doubling rounds (path length > "
                        "65536)"
                    )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            out = (
                reach if cp.op == "+"
                else reach.unionByName(ident).distinct()
            )
        self._closure_cache[key] = out
        return out

    def _scan_closure(
        self, tp: TriplePattern, graph: object
    ) -> tuple[DataFrame, dict[str, _Binding]]:
        """One closure-path pattern -> filtered reachability scan with
        fresh column names (the ClosurePath analog of _scan_tp)."""
        cp = tp.p
        frame = self._closure_pairs(cp, graph)
        cond = F.lit(True)
        if isinstance(tp.s, Iri):
            cond = cond & (F.col("src") == tp.s.value)
        elif isinstance(tp.s, Lit):
            # literal endpoints are excluded from the zero step (see
            # ClosurePath docstring) and can never start a hop
            cond = F.lit(False)
        if isinstance(tp.o, Iri):
            cond = cond & (F.col("dst_kind") == "iri") & (
                F.col("dst") == tp.o.value
            )
        elif isinstance(tp.o, Lit):
            cond = cond & (F.col("dst_kind") == "literal") & (
                F.col("dst") == tp.o.value
            )
            if tp.o.lang is not None:
                cond = cond & (F.lower(F.col("dst_lang")) == tp.o.lang)
            elif tp.o.datatype is None or tp.o.datatype == _XSD_STRING:
                cond = cond & (
                    F.col("dst_dt").isNull()
                    | (F.col("dst_dt") == _XSD_STRING)
                ) & F.col("dst_lang").isNull()
            else:
                cond = cond & (F.col("dst_dt") == tp.o.datatype)
        frame = frame.filter(cond)

        binds: dict[str, _Binding] = {}
        sel: list[Column] = []
        if isinstance(tp.s, Var):
            c = self.fresh("s")
            sel.append(F.col("src").alias(c))
            binds[tp.s.name] = _Binding(val=c)
        self_reach = isinstance(tp.o, Var) and isinstance(tp.s, Var) and (
            tp.o.name == tp.s.name
        )
        if self_reach:
            # ?x p+ ?x — self-reachability (cycle membership): keep the
            # pairs whose endpoints coincide; the src binding already
            # covers the var
            frame = frame.filter(
                (F.col("dst") == F.col("src"))
                & (F.col("dst_kind") != "literal")
            )
        if isinstance(tp.o, Var) and not self_reach:
            if tp.o.name in binds:
                raise SparqlUnsupported("repeated var within one pattern")
            cv, ck, cd, cl = (
                self.fresh("o"), self.fresh("ok"), self.fresh("od"),
                self.fresh("ol"),
            )
            sel += [
                F.col("dst").alias(cv), F.col("dst_kind").alias(ck),
                F.when(
                    F.col("dst_dt") == _XSD_STRING,
                    F.lit(None).cast("string"),
                ).otherwise(F.col("dst_dt")).alias(cd),
                F.lower(F.col("dst_lang")).alias(cl),
            ]
            binds[tp.o.name] = _Binding(val=cv, kind=ck, datatype=cd, lang=cl)
        if isinstance(graph, Var):
            if graph.name in binds:
                raise SparqlUnsupported(
                    f"?{graph.name} binds both the graph and a closure "
                    "endpoint in one pattern"
                )
            c = self.fresh("g")
            sel.append(F.col("doc_id").alias(c))
            binds[graph.name] = _Binding(val=c, is_graph=True)
        if not sel:
            sel.append(F.lit(1).alias(self.fresh("one")))
        return frame.select(*sel), binds

    # -- pattern compilation -------------------------------------------------
    def compile_pattern(
        self, elements: tuple, graph: object
    ) -> tuple[DataFrame | None, dict[str, _Binding]]:
        df: DataFrame | None = None
        binds: dict[str, _Binding] = {}
        # a VALUES block FIRST in the group is deferred past ALL the
        # group's consecutive plain-join elements (triple patterns,
        # GRAPH, UNION, sub-selects — Join is commutative, so this is
        # the same algebra) so it always merges through the
        # COMPATIBILITY join with every shared var in scope — as the
        # base frame, its UNDEF cells would join later patterns by
        # strict equality and silently match nothing, and flushing
        # after the FIRST join would strict-join vars bound only by
        # LATER patterns. Flushed only before an order-sensitive
        # element (FILTER / OPTIONAL / BIND / MINUS / EXISTS) and at
        # group end (a pure-VALUES group stays the inline table).
        deferred: list = []

        def flush() -> None:
            nonlocal df, binds
            for vdf, vbinds in deferred:
                if df is None:
                    df, binds = vdf, dict(vbinds)
                else:
                    df, binds = self._merge_values(df, binds, vdf, vbinds)
            deferred.clear()

        for el in elements:
            if isinstance(el, Values) and df is None:
                deferred.append(self._values_frame(el))
                continue
            if deferred and not isinstance(
                el, (TriplePattern, Graph, Union_, SubSelect)
            ):
                flush()
            if isinstance(el, TriplePattern):
                df, binds = self._join_tp(df, binds, el, graph)
            elif isinstance(el, Filter):
                if df is None:
                    raise SparqlError("FILTER before any triple pattern")
                expr, df = self._rewrite_exists(el.expr, df, binds, graph)
                df = df.filter(_expr_col(expr, binds))
            elif isinstance(el, Optional_):
                if df is None:
                    raise SparqlError("OPTIONAL before any triple pattern")
                df, binds = self._left_join(df, binds, el.pattern, graph)
            elif isinstance(el, Bind):
                if el.var in binds:
                    raise SparqlError(
                        f"BIND target ?{el.var} is already bound"
                    )
                df, binds = self._bind(df, binds, el)
            elif isinstance(el, Values):
                vdf, vbinds = self._values_frame(el)
                df, binds = self._merge_values(df, binds, vdf, vbinds)
            elif isinstance(el, Exists):
                if df is None:
                    raise SparqlError(
                        "FILTER EXISTS before any triple pattern"
                    )
                inner, ibinds = self.compile_pattern(el.pattern, graph)
                if inner is None:
                    raise SparqlError("empty EXISTS pattern")
                cond, shared = self._join_cond(binds, ibinds)
                if cond is None:
                    # var-disjoint EXISTS (r5 wave 5): the probe result is
                    # GLOBAL (one boolean for every solution), so it is a
                    # broadcast limit(1) any-match frame — never a
                    # nested-loop against the whole inner frame. (Inside
                    # GRAPH — incl. every sh:sparql constraint — the graph
                    # var is always shared, so doc-scoped EXISTS never
                    # hits this.)
                    flag = self.fresh("exf")
                    probe = inner.limit(1).select(F.lit(True).alias(flag))
                    df = df.join(F.broadcast(probe), F.lit(True), "left")
                    keep = F.col(flag).isNotNull()
                    df = df.filter(~keep if el.negated else keep).drop(flag)
                else:
                    df = df.join(
                        inner, on=cond,
                        how="left_anti" if el.negated else "left_semi",
                    )
                # semi/anti joins keep only the left side's columns; binds
                # are unchanged (EXISTS never projects bindings outward)
            elif isinstance(el, Minus):
                inner, ibinds = self.compile_pattern(el.pattern, graph)
                if inner is not None and df is not None:
                    cond, shared = self._join_cond(binds, ibinds)
                    if cond is not None:
                        # SPARQL MINUS: drop solutions compatible with some
                        # inner solution on a nonempty shared domain; with
                        # our static binding domains that is a plain
                        # anti-join. No shared vars => remove nothing.
                        df = df.join(inner, on=cond, how="left_anti")
            elif isinstance(el, Graph):
                inner, ibinds = self.compile_pattern(el.pattern, el.term)
                df, binds = self._merge(df, binds, inner, ibinds, how="inner")
            elif isinstance(el, SubSelect):
                sdf, sbinds = self._subselect(el.query, graph)
                df, binds = self._merge(df, binds, sdf, sbinds, how="inner")
            elif isinstance(el, Union_):
                left, lb = self.compile_pattern(el.left, graph)
                right, rb = self.compile_pattern(el.right, graph)
                u, ub = self._union(left, lb, right, rb)
                df, binds = self._merge(df, binds, u, ub, how="inner")
            else:  # pragma: no cover - parser only emits the above
                raise SparqlError(f"unexpected pattern element {el!r}")
        flush()
        return df, binds

    def _scan_tp(
        self, tp: TriplePattern, graph: object
    ) -> tuple[DataFrame, dict[str, _Binding]]:
        """One triple pattern -> filtered scan with fresh column names."""
        if isinstance(tp.p, ClosurePath):
            return self._scan_closure(tp, graph)
        t = self.triples
        cond = F.lit(True)
        # constant positions -> pushed filters
        if isinstance(tp.s, Iri):
            cond = cond & (F.col("subj") == tp.s.value)
        elif isinstance(tp.s, Lit):
            cond = F.lit(False)  # literal subjects have no solutions
        if isinstance(tp.p, Iri):
            cond = cond & (F.col("pred") == tp.p.value)
        if isinstance(tp.o, Iri):
            cond = cond & (F.col("obj_kind") == "iri") & (
                F.col("obj_value") == tp.o.value
            )
        elif isinstance(tp.o, Lit):
            cond = cond & (F.col("obj_kind") == "literal") & (
                F.col("obj_value") == tp.o.value
            )
            if tp.o.lang is not None:
                cond = cond & (F.lower(F.col("obj_lang")) == tp.o.lang)
            elif tp.o.datatype is None or tp.o.datatype == _XSD_STRING:
                # RDF 1.1: plain == xsd:string
                cond = cond & (
                    F.col("obj_datatype").isNull()
                    | (F.col("obj_datatype") == _XSD_STRING)
                ) & F.col("obj_lang").isNull()
            else:
                cond = cond & (F.col("obj_datatype") == tp.o.datatype)
        if isinstance(graph, Iri):
            cond = cond & (
                F.col("doc_id") == F.lit(graph_doc_id_bytes(graph.value))
            )
        t = t.filter(cond)

        # variable positions -> fresh columns
        binds: dict[str, _Binding] = {}
        sel: list[Column] = []
        if isinstance(tp.s, Var):
            c = self.fresh("s")
            sel.append(F.col("subj").alias(c))
            binds[tp.s.name] = _Binding(val=c)
        if isinstance(tp.p, Var):
            if tp.p.name in binds:
                raise SparqlUnsupported("repeated var within one pattern")
            c = self.fresh("p")
            sel.append(F.col("pred").alias(c))
            binds[tp.p.name] = _Binding(val=c, kind=None)
        if isinstance(tp.o, Var):
            if tp.o.name in binds:
                # e.g. ?x ?x ?y or ?x a ?x — rare; do it the slow exact way
                raise SparqlUnsupported("repeated var within one pattern")
            cv, ck, cd, cl = (
                self.fresh("o"), self.fresh("ok"), self.fresh("od"),
                self.fresh("ol"),
            )
            sel += [
                F.col("obj_value").alias(cv), F.col("obj_kind").alias(ck),
                # normalize the RDF 1.1 plain == xsd:string collapse AT
                # THE BINDING (datatype NULL is the canonical form), so
                # object-object joins and VALUES cells unify across the
                # two storage spellings; lang tags compare lowercased
                F.when(
                    F.col("obj_datatype") == _XSD_STRING,
                    F.lit(None).cast("string"),
                ).otherwise(F.col("obj_datatype")).alias(cd),
                F.lower(F.col("obj_lang")).alias(cl),
            ]
            binds[tp.o.name] = _Binding(val=cv, kind=ck, datatype=cd, lang=cl)
        if isinstance(graph, Var):
            if graph.name in binds:
                # GRAPH ?g { ?g ?p ?o }: the graph name equals a term in
                # the same pattern — would need a doc_id<->IRI equality we
                # don't define (degrade-don't-guess, same contract as the
                # repeated-var cases above)
                raise SparqlUnsupported(
                    f"?{graph.name} binds both the graph and a triple "
                    "position in one pattern"
                )
            c = self.fresh("g")
            sel.append(F.col("doc_id").alias(c))
            binds[graph.name] = _Binding(val=c, is_graph=True)
        if not sel:
            sel.append(F.lit(1).alias(self.fresh("one")))
        return t.select(*sel), binds

    @staticmethod
    def _join_cond(
        binds: dict[str, _Binding], other: dict[str, _Binding]
    ) -> tuple[Column | None, list[str]]:
        shared = [v for v in other if v in binds]
        if not shared:
            return None, shared
        cond = F.lit(True)
        for v in shared:
            a, b = binds[v], other[v]
            if a.is_graph != b.is_graph:
                raise SparqlError(
                    f"?{v} binds both a graph and a term position"
                )
            cond = cond & (F.col(a.val) == F.col(b.val))
            if not a.is_graph:
                cond = cond & (a.kind_col() == b.kind_col())
                # only object-object joins can disagree on dt/lang
                if a.datatype or b.datatype:
                    cond = cond & a.datatype_col().eqNullSafe(b.datatype_col())
                if a.lang or b.lang:
                    cond = cond & a.lang_col().eqNullSafe(b.lang_col())
        return cond, shared

    def _merge(
        self,
        df: DataFrame | None,
        binds: dict[str, _Binding],
        other_df: DataFrame | None,
        other_binds: dict[str, _Binding],
        how: str,
    ) -> tuple[DataFrame | None, dict[str, _Binding]]:
        if other_df is None:
            return df, binds
        if df is None:
            return other_df, dict(other_binds)
        cond, shared = self._join_cond(binds, other_binds)
        if cond is None:
            raise SparqlUnsupported(
                "disconnected pattern groups (cartesian product) are out "
                "of the subset — share at least one variable"
            )
        out = df.join(other_df, on=cond, how=how)
        merged = dict(binds)
        for v, b in other_binds.items():
            if v not in merged:
                merged[v] = b
        # drop the duplicate shared columns from the right side
        drop = [other_binds[v].val for v in shared]
        for v in shared:
            b = other_binds[v]
            drop += [c for c in (b.kind, b.datatype, b.lang) if c]
        return out.drop(*drop), merged

    def _join_tp(self, df, binds, tp: TriplePattern, graph):
        sdf, sbinds = self._scan_tp(tp, graph)
        return self._merge(df, binds, sdf, sbinds, how="inner")

    def _bind(self, df, binds, el: Bind):
        """BIND(expr AS ?v): a bare-var expr copies the source term's
        metadata; a constant IRI/literal keeps its term kind (the
        reference's `load-task.sparql` opens with `BIND(<iri> AS ?task)`
        and joins ?task as a subject — kind must say 'iri'); any other
        expression yields a plain literal whose value is the result's
        lexical (string) form — documented simplification (Spark's cast
        produces the xsd lexical forms: 'true', '42').

        A leading BIND extends the unit table (SPARQL algebra: the GGP
        starts from one empty solution)."""
        merged = dict(binds)
        if isinstance(el.expr, Var):
            merged[el.var] = _lookup(el.expr, binds)
            return df, merged
        if df is None:
            df = self.triples.sparkSession.range(1).select(
                F.lit(1).alias(self.fresh("unit"))
            )
        c, ck = self.fresh("b"), self.fresh("bk")
        if isinstance(el.expr, Iri):
            df = df.withColumn(c, F.lit(el.expr.value)).withColumn(
                ck, F.lit("iri")
            )
            merged[el.var] = _Binding(val=c, kind=ck)
            return df, merged
        if isinstance(el.expr, Lit):
            cd, cl = self.fresh("bd"), self.fresh("bl")
            dt = el.expr.datatype
            df = (
                df.withColumn(c, F.lit(el.expr.value))
                .withColumn(ck, F.lit("literal"))
                .withColumn(
                    cd,
                    F.lit(None if dt == _XSD_STRING else dt).cast("string"),
                )
                .withColumn(
                    cl,
                    F.lit(
                        el.expr.lang.lower() if el.expr.lang else None
                    ).cast("string"),
                )
            )
            merged[el.var] = _Binding(val=c, kind=ck, datatype=cd, lang=cl)
            return df, merged
        # STRDT/STRLANG (r5 wave 7): the two literal CONSTRUCTORS —
        # only legal directly in BIND, where the binding model has
        # datatype/lang channels; the tag must be constant (a computed
        # datatype would need per-row datatype columns everywhere)
        if isinstance(el.expr, Call) and el.expr.name in (
            "strdt", "strlang"
        ):
            if len(el.expr.args) != 2:
                raise SparqlError(f"{el.expr.name}(lexical, tag)")
            tag = el.expr.args[1]
            val = _value_col(el.expr.args[0], binds, numeric=False)
            cd, cl = self.fresh("bd"), self.fresh("bl")
            if el.expr.name == "strdt":
                if not isinstance(tag, Iri):
                    raise SparqlUnsupported(
                        "STRDT needs a constant datatype IRI"
                    )
                dtv = None if tag.value == _XSD_STRING else tag.value
                dt_col = F.lit(dtv).cast("string")
                lang_col = F.lit(None).cast("string")
            else:
                if not isinstance(tag, Lit) or not tag.value:
                    raise SparqlUnsupported(
                        "STRLANG needs a constant non-empty language tag"
                    )
                dt_col = F.lit(None).cast("string")
                lang_col = F.lit(tag.value.lower()).cast("string")
            df = (
                df.withColumn(c, val.cast("string"))
                .withColumn(ck, F.lit("literal"))
                .withColumn(cd, dt_col)
                .withColumn(cl, lang_col)
            )
            merged[el.var] = _Binding(val=c, kind=ck, datatype=cd, lang=cl)
            return df, merged
        # computed literal: pin kind with an explicit constant column
        # (kind=None would derive bnode/iri from the value text).
        # Boolean expressions evaluate via the filter compiler — Spark's
        # string cast yields the xsd lexical forms 'true'/'false'
        if isinstance(el.expr, (Cmp, BoolOp, Not)):
            val = _expr_col(el.expr, binds)
        else:
            val = _value_col(el.expr, binds, numeric=False)
        df = df.withColumn(c, val.cast("string")).withColumn(
            ck, F.lit("literal")
        )
        merged[el.var] = _Binding(val=c, kind=ck)
        return df, merged

    def _values_frame(self, el: Values):
        """Inline solution table: one (val, kind, datatype, lang) column
        quad per var, joined into the pattern on the shared vars (the
        subset requires at least one — a disconnected VALUES block would
        be a cartesian). An UNDEF cell (r5 wave 5) stores an all-NULL
        quad — kind IS NULL marks it, since every defined cell pins
        'iri'/'literal' — and the compatibility join treats it as
        match-anything, binding nothing."""
        spark = self.triples.sparkSession
        binds: dict[str, _Binding] = {}
        cols: list[str] = []
        for v in el.vars:
            b = _Binding(
                val=self.fresh("vv"), kind=self.fresh("vk"),
                datatype=self.fresh("vd"), lang=self.fresh("vl"),
            )
            binds[v] = b
            cols += [b.val, b.kind, b.datatype, b.lang]
        rows = []
        for row in el.rows:
            flat: list = []
            for cell in row:
                if cell is None:  # UNDEF
                    flat += [None, None, None, None]
                elif isinstance(cell, Iri):
                    flat += [cell.value, "iri", None, None]
                else:  # Lit — same RDF 1.1 normalization as the scans
                    dt = cell.datatype
                    if dt == _XSD_STRING:
                        dt = None
                    flat += [
                        cell.value, "literal", dt,
                        cell.lang.lower() if cell.lang else None,
                    ]
            rows.append(tuple(flat))
        schema = ", ".join(f"{c} string" for c in cols)
        return local_frame(spark, rows, schema), binds

    def _merge_values(self, df, binds, vdf, vbinds):
        """Join the inline VALUES table with SPARQL join COMPATIBILITY:
        a solution whose shared var is UNBOUND (e.g. bound only inside an
        OPTIONAL) is compatible with every row and adopts the row's
        value — a plain equijoin would silently drop it. The VALUES side
        is a constant handful of rows, so the OR-isNull condition's
        nested-loop join is broadcast and per-row cheap."""
        if df is None:
            return vdf, dict(vbinds)
        shared = [v for v in vbinds if v in binds]
        if not shared:
            raise SparqlUnsupported(
                "VALUES must share at least one variable with the pattern"
            )
        cond = F.lit(True)
        for v in shared:
            a, b = binds[v], vbinds[v]
            if a.is_graph:
                raise SparqlUnsupported("VALUES on a graph variable")
            term_eq = (
                (F.col(a.val) == F.col(b.val))
                & (a.kind_col() == b.kind_col())
                & a.datatype_col().eqNullSafe(b.datatype_col())
                & a.lang_col().eqNullSafe(b.lang_col())
            )
            # compatible when the row's cell is UNDEF (kind IS NULL),
            # the solution's var is unbound, or the terms are equal
            cond = cond & (
                b.kind_col().isNull() | F.col(a.val).isNull() | term_eq
            )
        out = df.join(F.broadcast(vdf), on=cond, how="inner")
        merged = dict(binds)
        for v, b in vbinds.items():
            if v not in merged:
                merged[v] = b
        # shared vars re-bind to the compatibility merge (left if bound,
        # else the VALUES row), term metadata following the same rule.
        # Superseded columns are kept — another binding may alias them
        # (BIND var-copy); the final projection discards them anyway.
        for v in shared:
            a, b = binds[v], vbinds[v]
            unbound = F.col(a.val).isNull()
            nv, nk, nd, nl = (
                self.fresh("mv"), self.fresh("mk"),
                self.fresh("md"), self.fresh("ml"),
            )
            out = (
                out.withColumn(nv, F.when(unbound, F.col(b.val)).otherwise(F.col(a.val)))
                .withColumn(nk, F.when(unbound, b.kind_col()).otherwise(a.kind_col()))
                .withColumn(nd, F.when(unbound, b.datatype_col()).otherwise(a.datatype_col()))
                .withColumn(nl, F.when(unbound, b.lang_col()).otherwise(a.lang_col()))
            )
            merged[v] = _Binding(val=nv, kind=nk, datatype=nd, lang=nl)
        return out, merged

    def _left_join(self, df, binds, pattern: tuple, graph):
        inner, ibinds = self.compile_pattern(pattern, graph)
        if inner is None:
            return df, binds
        cond, shared = self._join_cond(binds, ibinds)
        if cond is None:
            raise SparqlUnsupported(
                "OPTIONAL must share a variable with the outer pattern"
            )
        out = df.join(inner, on=cond, how="left")
        merged = dict(binds)
        for v, b in ibinds.items():
            if v not in merged:
                merged[v] = b
        drop = []
        for v in shared:
            b = ibinds[v]
            drop += [c for c in (b.val, b.kind, b.datatype, b.lang) if c]
        return out.drop(*drop), merged

    def _union(self, left, lbinds, right, rbinds):
        if left is None or right is None:
            raise SparqlError("empty UNION branch")
        # normalize both branches to the union of the variable sets; a
        # var missing from one branch is NULL there (SPARQL union
        # semantics). Column names are freshened per UNION instance so
        # two union groups in one query never collide at a later join.
        all_vars = sorted(set(lbinds) | set(rbinds))
        u = self.fresh("u")
        out_binds: dict[str, _Binding] = {}

        # bind graph-ness first from whichever branch has each var
        for v in all_vars:
            b = lbinds.get(v) or rbinds.get(v)
            lb, rb = lbinds.get(v), rbinds.get(v)
            if lb and rb and lb.is_graph != rb.is_graph:
                raise SparqlError(
                    f"?{v} binds a graph in one UNION branch only"
                )
            out_binds[v] = _Binding(
                val=f"{u}_v_{v}", kind=f"{u}_k_{v}", datatype=f"{u}_d_{v}",
                lang=f"{u}_l_{v}", is_graph=b.is_graph,
            )

        def normalize(df: DataFrame, binds: dict[str, _Binding]) -> DataFrame:
            sel = []
            for v in all_vars:
                ob = out_binds[v]
                b = binds.get(v)
                if b is None:
                    sel += [
                        F.lit(None).cast(
                            "binary" if ob.is_graph else "string"
                        ).alias(ob.val),
                        F.lit(None).cast("string").alias(ob.kind),
                        F.lit(None).cast("string").alias(ob.datatype),
                        F.lit(None).cast("string").alias(ob.lang),
                    ]
                else:
                    sel += [
                        F.col(b.val).alias(ob.val),
                        b.kind_col().alias(ob.kind),
                        b.datatype_col().alias(ob.datatype),
                        b.lang_col().alias(ob.lang),
                    ]
            return df.select(*sel)

        return normalize(left, lbinds).unionByName(
            normalize(right, rbinds)
        ), out_binds

    def _subselect(
        self, q: Query, graph: object
    ) -> tuple[DataFrame, dict[str, _Binding]]:
        """Compile ``{ SELECT ... }`` bottom-up into a solution frame.

        Projected variables keep their FULL term quad (value/kind/
        datatype/lang) under fresh column names, so the enclosing
        pattern's join compares terms, not display strings, and two
        sub-selects projecting the same name never collide. The
        enclosing GRAPH context applies to the inner pattern (the
        grammar nests SubSelect inside GRAPH's group). Aggregate
        results bind as plain literals carrying their native Spark type
        (COUNT -> bigint, SUM/AVG -> DECIMAL(38,12), the rest strings),
        consistent with the top-level aggregate projection. Grouping is
        TERM-level (the whole quad rides the groupBy) and HAVING
        computes in the same single shuffle, as at the top level.

        Scale note: an inner ORDER BY is observable only through a
        LIMIT/OFFSET slice (the outer join destroys order), so the
        sort — a total exchange at corpus scale — compiles ONLY when a
        slice rides on it; a bare ordered sub-select skips the shuffle.
        """
        df, binds = self.compile_pattern(q.pattern, graph)
        if df is None:
            raise SparqlError("empty sub-SELECT pattern")
        # a sub-select under GRAPH ?g evaluates once per ACTIVE graph
        # (SPARQL 13.3: the group pattern, sub-queries included, runs
        # against each named graph the variable ranges over): the graph
        # binding implicitly joins the group keys and propagates
        # outward, so aggregates never leak across documents and the
        # enclosing pattern keeps its per-document join key — this is
        # also what scopes sh:sparql sub-selects per document (pass 7
        # compiles with a graph variable). A sliced sub-select under a
        # graph VARIABLE would need a per-graph window (the slice
        # applies per active graph) — out of the subset; constant- and
        # default-graph slices stay global and correct.
        gvar = (
            graph.name
            if isinstance(graph, Var) and graph.name in binds
            else None
        )
        if gvar and (q.limit is not None or q.offset):
            raise SparqlUnsupported(
                "LIMIT/OFFSET in a sub-select under a graph variable is "
                "out of the subset (the slice applies per active graph)"
            )
        aggs = [p for p in q.projection or [] if isinstance(p, Agg)]
        plain = [p for p in q.projection or [] if isinstance(p, Var)]
        hav_aggs = _collect_aggs(q.having) if q.having is not None else []
        distinct = q.distinct
        if q.having is not None and not (aggs or hav_aggs or q.group_by):
            raise SparqlError("HAVING requires a grouped query")
        if q.group_by and not aggs and not hav_aggs:
            if {v.name for v in plain} != {v.name for v in q.group_by}:
                raise SparqlUnsupported(
                    "GROUP BY without aggregates requires the projection "
                    "to equal the group keys"
                )
            if q.having is not None:
                raise SparqlUnsupported(
                    "HAVING without any aggregate is not in the subset "
                    "(filter in WHERE instead)"
                )
            distinct = True

        out_binds: dict[str, _Binding] = {}
        if aggs or hav_aggs:
            keys = q.group_by or plain
            if set(v.name for v in plain) - set(v.name for v in keys):
                raise SparqlError(
                    "projected vars must appear in GROUP BY alongside "
                    "aggregates"
                )
            if gvar and gvar not in {v.name for v in keys}:
                keys = [Var(gvar), *keys]
            # key quads materialize ALONGSIDE the original columns (the
            # aggregate inputs still need those); key values alias to
            # the var name so the shared _having_col key lookups work
            # pre-rename
            key_binds: dict[str, _Binding] = {}
            add_cols: list[Column] = []
            gb: list[str] = []
            for v in keys:
                b = _lookup(v, binds)
                if b.is_graph:
                    nb = _Binding(val=v.name, is_graph=True)
                    add_cols.append(F.col(b.val).alias(nb.val))
                    gb.append(nb.val)
                else:
                    nb = _Binding(
                        val=v.name, kind=self.fresh("gk"),
                        datatype=self.fresh("gd"), lang=self.fresh("gl"),
                    )
                    add_cols += [
                        F.col(b.val).alias(nb.val),
                        b.kind_col().alias(nb.kind),
                        b.datatype_col().alias(nb.datatype),
                        b.lang_col().alias(nb.lang),
                    ]
                    gb += [nb.val, nb.kind, nb.datatype, nb.lang]
                key_binds[v.name] = nb
            alias_of: dict[tuple, str] = {a.key(): a.alias for a in aggs}
            agg_list = list(aggs)
            for h in hav_aggs:
                if h.key() not in alias_of:
                    named = Agg(
                        fn=h.fn, distinct=h.distinct, arg=h.arg,
                        alias=self.fresh("hav"), sep=h.sep,
                    )
                    alias_of[h.key()] = named.alias
                    agg_list.append(named)
            agg_cols = [_agg_expr(a, binds).alias(a.alias) for a in agg_list]
            wide = df.select("*", *add_cols)
            out = (
                wide.groupBy(*gb).agg(*agg_cols)
                if gb else wide.agg(*agg_cols)
            )
            if q.having is not None:
                out = out.filter(_having_col(q.having, alias_of, key_binds))
            # rename the visible surface to fresh columns; unprojected
            # group keys and HAVING-only aggregates drop here
            sel: list[Column] = []
            for v in plain:
                nb, cols = self._fresh_quad(key_binds[v.name])
                sel += cols
                out_binds[v.name] = nb
            for a in aggs:
                nv, nk = self.fresh("av"), self.fresh("ak")
                sel += [
                    F.col(a.alias).alias(nv),
                    F.lit("literal").alias(nk),
                ]
                out_binds[a.alias] = _Binding(val=nv, kind=nk)
            if gvar and gvar not in out_binds:
                nb, cols = self._fresh_quad(key_binds[gvar])
                sel += cols
                out_binds[gvar] = nb
            out = out.select(*sel)
            if distinct:
                out = out.distinct()
        else:
            if q.projection is None:  # SELECT *
                names = sorted(
                    n for n in binds if not n.startswith("__path_")
                )
            else:
                names = [v.name for v in plain]
                missing = [n for n in names if n not in binds]
                if missing:
                    raise SparqlError(
                        f"projected vars never bound: {missing}"
                    )
            if gvar and gvar not in names:
                names.append(gvar)
            sel = []
            for n in names:
                nb, cols = self._fresh_quad(binds[n])
                sel += cols
                out_binds[n] = nb
            out = df.select(*sel)
            if distinct:
                out = out.distinct()

        if q.order_by and (q.limit is not None or q.offset):
            sort_cols = []
            for v, asc in q.order_by:
                if v.name not in out_binds:
                    raise SparqlUnsupported(
                        "ORDER BY vars must be projected in this subset"
                    )
                c = F.col(out_binds[v.name].val)
                sort_cols.append(c.asc() if asc else c.desc())
            out = out.sort(*sort_cols)
        if q.offset:
            out = out.offset(q.offset)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out, out_binds

    def _rewrite_exists(
        self, expr: object, df: DataFrame, binds: dict[str, _Binding],
        graph: object,
    ) -> tuple[object, DataFrame]:
        """Replace every ``ExistsExpr`` in a FILTER expression with a
        ``_MarkerRef`` to a boolean column materialized by a marker
        join (see ExistsExpr). The walk threads the frame through, so
        several EXISTS operands in one expression each get their own
        marker column on the same frame."""
        if isinstance(expr, ExistsExpr):
            inner, ibinds = self.compile_pattern(expr.pattern, graph)
            if inner is None:
                raise SparqlError("empty EXISTS pattern")
            flag = self.fresh("exf")
            cond, shared = self._join_cond(binds, ibinds)
            if cond is None:
                # global any-match probe, broadcast (see ExistsExpr)
                probe = inner.limit(1).select(F.lit(True).alias(flag))
                df = df.join(F.broadcast(probe), F.lit(True), "left")
            else:
                keep: list[str] = []
                for v in shared:
                    b = ibinds[v]
                    keep += [
                        c for c in (b.val, b.kind, b.datatype, b.lang) if c
                    ]
                # distinct on the full shared term quads => at most one
                # match per outer row, never a row multiplication
                probe = inner.select(*keep).distinct().withColumn(
                    flag, F.lit(True)
                )
                df = df.join(probe, on=cond, how="left").drop(*keep)
            return _MarkerRef(flag, expr.negated), df
        if isinstance(expr, BoolOp):
            left, df = self._rewrite_exists(expr.left, df, binds, graph)
            right, df = self._rewrite_exists(expr.right, df, binds, graph)
            return BoolOp(expr.op, left, right), df
        if isinstance(expr, Not):
            inner_e, df = self._rewrite_exists(expr.expr, df, binds, graph)
            return Not(inner_e), df
        if isinstance(expr, Cmp):
            left, df = self._rewrite_exists(expr.left, df, binds, graph)
            right, df = self._rewrite_exists(expr.right, df, binds, graph)
            return Cmp(expr.op, left, right), df
        if isinstance(expr, Call):
            args = []
            for a in expr.args:
                a, df = self._rewrite_exists(a, df, binds, graph)
                args.append(a)
            return Call(expr.name, tuple(args)), df
        if isinstance(expr, InList):
            inner_e, df = self._rewrite_exists(expr.expr, df, binds, graph)
            return InList(inner_e, expr.terms, expr.negated), df
        return expr, df

    def _fresh_quad(self, b: _Binding) -> tuple[_Binding, list[Column]]:
        """Re-materialize a binding's term quad under fresh column names
        (graph bindings stay a single binary doc_id column)."""
        if b.is_graph:
            nb = _Binding(val=self.fresh("qv"), is_graph=True)
            return nb, [F.col(b.val).alias(nb.val)]
        nb = _Binding(
            val=self.fresh("qv"), kind=self.fresh("qk"),
            datatype=self.fresh("qd"), lang=self.fresh("ql"),
        )
        return nb, [
            F.col(b.val).alias(nb.val),
            b.kind_col().alias(nb.kind),
            b.datatype_col().alias(nb.datatype),
            b.lang_col().alias(nb.lang),
        ]


def _expr_col(expr: object, binds: dict[str, _Binding]) -> Column:
    """Compile a FILTER expression to a Spark Column."""
    if isinstance(expr, BoolOp):
        l, r = _expr_col(expr.left, binds), _expr_col(expr.right, binds)
        return (l & r) if expr.op == "&&" else (l | r)
    if isinstance(expr, Not):
        return ~_expr_col(expr.expr, binds)
    if isinstance(expr, Cmp):
        numeric = any(
            isinstance(t, Lit) and t.datatype in _NUMERIC_DTS
            for t in (expr.left, expr.right)
        )
        l = _value_col(expr.left, binds, numeric)
        r = _value_col(expr.right, binds, numeric)
        return {
            "=": l == r, "!=": l != r, "<": l < r, "<=": l <= r,
            ">": l > r, ">=": l >= r,
        }[expr.op]
    if isinstance(expr, InList):
        # expr IN (t1..tn) == (expr = t1 || .. || expr = tn); each
        # comparison keeps the engine's numeric-vs-lexical rule. An
        # empty list is a compile-time constant (false / true for NOT
        # IN) — no comparison is evaluated, so not even NULL errors.
        if not expr.terms:
            return F.lit(expr.negated)
        conds = None
        for t in expr.terms:
            numeric = isinstance(t, Lit) and t.datatype in _NUMERIC_DTS
            c = _value_col(expr.expr, binds, numeric) == _value_col(
                t, binds, numeric
            )
            conds = c if conds is None else (conds | c)
        return ~conds if expr.negated else conds
    if isinstance(expr, Call):
        return _call_col(expr, binds)
    if isinstance(expr, _MarkerRef):
        # minted by the ExistsExpr rewrite: null marker == no match
        c = F.coalesce(F.col(expr.col), F.lit(False))
        return ~c if expr.negated else c
    if isinstance(expr, ExistsExpr):
        raise SparqlUnsupported(
            "[NOT] EXISTS is supported in FILTER expressions only, not "
            "in BIND / HAVING position"
        )
    if isinstance(expr, Var):
        b = _lookup(expr, binds)
        # effective boolean value of a bare var: xsd:boolean "true"
        return b.display_col() == "true"
    raise SparqlError(f"cannot evaluate {expr!r} as a boolean")


def _lookup(v: Var, binds: dict[str, _Binding]) -> _Binding:
    if v.name not in binds:
        raise SparqlError(f"unbound variable ?{v.name} in expression")
    return binds[v.name]


def _collect_aggs(expr: object) -> list:
    """Aggregate calls appearing in a HAVING expression, in order."""
    if isinstance(expr, Agg):
        return [expr]
    if isinstance(expr, (BoolOp, Cmp)):
        return _collect_aggs(expr.left) + _collect_aggs(expr.right)
    if isinstance(expr, Not):
        return _collect_aggs(expr.expr)
    if isinstance(expr, InList):
        return _collect_aggs(expr.expr)
    if isinstance(expr, Call):
        out: list = []
        for a in expr.args:
            out.extend(_collect_aggs(a))
        return out
    return []


def _agg_expr(a: Agg, binds: dict[str, _Binding]) -> Column:
    """One aggregate call -> an unaliased Spark aggregate Column."""
    if a.arg is None:
        if a.distinct:
            raise SparqlUnsupported("COUNT(DISTINCT *) is not supported")
        return F.count(F.lit(1))
    if a.fn == "count":
        # count on the raw column: hexing is injective, so the
        # (distinct) counts are identical and the narrow form wins
        src = F.col(_lookup(a.arg, binds).val)
        return F.count_distinct(src) if a.distinct else F.count(src)
    if a.fn in ("sum", "avg"):
        # numeric aggregation in DECIMAL (engine-wide fp discipline);
        # non-numeric values cast to NULL and are skipped, and an
        # empty/all-null group yields NULL (unbound) rather than the
        # spec's Sum({})=0 — documented simplifications of the spec's
        # type-error propagation
        src = _lookup(a.arg, binds).display_col().cast("decimal(38,12)")
        return F.sum(src) if a.fn == "sum" else F.avg(src)
    if a.fn == "group_concat":
        # the spec leaves concatenation order undefined; this engine
        # pins lexical ascending (array_sort) so results are
        # deterministic and oracle-able (DuckDB: string_agg ORDER BY).
        # NULLs (OPTIONAL-unbound values) are skipped by collect_*.
        src = _lookup(a.arg, binds).display_col()
        arr = F.collect_set(src) if a.distinct else F.collect_list(src)
        return F.array_join(F.array_sort(arr), a.sep)
    if a.fn == "sample":
        # SAMPLE may return ANY value from the group; picking the
        # lexical minimum is a spec-conformant deterministic choice
        return F.min(_lookup(a.arg, binds).display_col())
    # min / max — lexical order over the value strings
    src = _lookup(a.arg, binds).display_col()
    return F.min(src) if a.fn == "min" else F.max(src)


def _having_col(
    expr: object, alias_of: dict, key_binds: dict[str, _Binding]
) -> Column:
    """Compile a HAVING expression over the AGGREGATED frame: aggregate
    calls read their (possibly internal) result columns, bare vars read
    group-key columns, literals stay literals. Comparisons touching a
    numeric aggregate (COUNT/SUM/AVG) or a numeric literal compare in
    DECIMAL, everything else lexically — the same rule FILTER uses."""
    if isinstance(expr, BoolOp):
        l = _having_col(expr.left, alias_of, key_binds)
        r = _having_col(expr.right, alias_of, key_binds)
        return (l & r) if expr.op == "&&" else (l | r)
    if isinstance(expr, Not):
        return ~_having_col(expr.expr, alias_of, key_binds)
    if isinstance(expr, Cmp):
        numeric = any(
            (isinstance(t, Agg) and (t.fn in ("sum", "avg", "count")))
            or (isinstance(t, Lit) and t.datatype in _NUMERIC_DTS)
            for t in (expr.left, expr.right)
        )
        l = _having_val(expr.left, alias_of, key_binds, numeric)
        r = _having_val(expr.right, alias_of, key_binds, numeric)
        return {
            "=": l == r, "!=": l != r, "<": l < r, "<=": l <= r,
            ">": l > r, ">=": l >= r,
        }[expr.op]
    raise SparqlUnsupported(
        "HAVING supports boolean combinations of comparisons over "
        "aggregates, group keys, and literals"
    )


def _having_val(
    term: object, alias_of: dict, key_binds: dict[str, _Binding],
    numeric: bool,
) -> Column:
    if isinstance(term, Agg):
        c = F.col(alias_of[term.key()])
    elif isinstance(term, Var):
        if term.name not in key_binds:
            raise SparqlError(
                f"?{term.name} in HAVING must be a GROUP BY key"
            )
        b = key_binds[term.name]
        c = F.lower(F.hex(term.name)) if b.is_graph else F.col(term.name)
    elif isinstance(term, (Lit, Iri)):
        c = F.lit(term.value)
    else:
        raise SparqlUnsupported(
            "HAVING terms must be aggregates, group keys, or literals"
        )
    return c.cast("decimal(38,12)") if numeric else c


def _value_col(term: object, binds: dict[str, _Binding], numeric: bool) -> Column:
    if isinstance(term, Var):
        c = _lookup(term, binds).display_col()
    elif isinstance(term, Lit):
        c = F.lit(term.value)
    elif isinstance(term, Iri):
        c = F.lit(term.value)
    elif isinstance(term, Call):
        c = _call_col(term, binds)
    elif isinstance(term, ExistsExpr):
        raise SparqlUnsupported(
            "[NOT] EXISTS is supported in FILTER expressions only, not "
            "in BIND / HAVING position"
        )
    else:
        raise SparqlError(f"cannot evaluate {term!r} as a value")
    if numeric:
        c = c.cast("decimal(38,12)")
    return c


def _call_col(call: Call, binds: dict[str, _Binding]) -> Column:
    name, args = call.name, call.args

    def val(i: int) -> Column:
        return _value_col(args[i], binds, numeric=False)

    def bind0() -> _Binding:
        if not args or not isinstance(args[0], Var):
            raise SparqlError(f"{name.upper()} needs a variable argument")
        return _lookup(args[0], binds)

    if name == "regex":
        if len(args) not in (2, 3):
            raise SparqlError("regex(text, pattern [, flags])")
        pat = args[1]
        if not isinstance(pat, Lit):
            raise SparqlUnsupported("regex pattern must be a literal")
        flags = ""
        if len(args) == 3:
            if not (isinstance(args[2], Lit) and args[2].value in ("", "i")):
                raise SparqlUnsupported("only the 'i' regex flag is supported")
            flags = args[2].value
        p = ("(?i)" if flags == "i" else "") + pat.value
        return val(0).rlike(p)
    if name == "strstarts":
        return val(0).startswith(val(1))
    if name == "strends":
        return val(0).endswith(val(1))
    if name == "contains":
        return val(0).contains(val(1))
    if name == "strlen":
        return F.length(val(0))
    if name == "str":
        return val(0)
    if name == "lang":
        return F.coalesce(bind0().lang_col(), F.lit(""))
    if name == "datatype":
        # RDF 1.1: plain -> xsd:string, lang-tagged -> rdf:langString
        b = bind0()
        return F.when(
            b.kind_col() == "literal",
            F.coalesce(
                b.datatype_col(),
                F.when(
                    b.lang_col().isNotNull(),
                    F.lit(RDF_TYPE.rsplit("#", 1)[0] + "#langString"),
                ).otherwise(F.lit(_XSD_STRING)),
            ),
        )
    if name == "ucase":
        return F.upper(val(0))
    if name == "lcase":
        return F.lower(val(0))
    if name == "substr":
        # SPARQL SUBSTR is 1-based like Spark's; the length defaults to
        # "to the end of the string"
        if len(args) not in (2, 3):
            raise SparqlError("substr(source, start [, length])")
        start = _value_col(args[1], binds, numeric=True).cast("int")
        length = (
            _value_col(args[2], binds, numeric=True).cast("int")
            if len(args) == 3
            else F.length(val(0))
        )
        return val(0).substr(start, length)
    if name == "concat":
        # NULL propagates (SPARQL: an unbound argument is a type error
        # => the whole expression is unbound) — Spark's concat matches
        return F.concat(*[val(i) for i in range(len(args))])
    if name == "replace":
        if len(args) not in (3, 4):
            raise SparqlError("replace(arg, pattern, replacement [, flags])")
        if not (isinstance(args[1], Lit) and isinstance(args[2], Lit)):
            raise SparqlUnsupported(
                "replace pattern/replacement must be literals"
            )
        flags = ""
        if len(args) == 4:
            if not (isinstance(args[3], Lit) and args[3].value in ("", "i")):
                raise SparqlUnsupported(
                    "only the 'i' replace flag is supported"
                )
            flags = args[3].value
        pat = ("(?i)" if flags == "i" else "") + args[1].value
        return F.regexp_replace(val(0), pat, args[2].value)
    if name in ("strbefore", "strafter"):
        # SPARQL: empty string when there is no match; STRBEFORE(s, "")
        # is "" and STRAFTER(s, "") is s — F.instr returns 1 on the
        # empty needle, which both branches below already honor
        s, needle = val(0), val(1)
        pos = F.instr(s, needle)
        if name == "strbefore":
            return F.when(pos > 0, s.substr(F.lit(1), pos - 1)).otherwise(
                F.lit("")
            )
        return F.when(
            pos > 0, s.substr(pos + F.length(needle), F.length(s))
        ).otherwise(F.lit(""))
    if name == "if":
        # IF(cond, then, else) — the condition compiles through the
        # boolean expression compiler (so comparisons/IN/builtins all
        # work); branches are values. A NULL condition propagates NULL
        # (Spark's when), matching the spec's error propagation.
        if len(args) != 3:
            raise SparqlError("if(condition, then, else)")
        return F.when(_expr_col(args[0], binds), val(1)).otherwise(val(2))
    if name == "coalesce":
        if not args:
            raise SparqlError("coalesce needs at least one argument")
        return F.coalesce(*[val(i) for i in range(len(args))])
    if name == "langmatches":
        # langMatches(tag, range): "*" matches any non-empty tag; a
        # concrete range matches the tag or any of its extended
        # subtags, case-insensitively (BCP47 basic filtering)
        if len(args) != 2 or not isinstance(args[1], Lit):
            raise SparqlUnsupported(
                "langMatches needs (expr, literal-range)"
            )
        tag = F.lower(val(0))
        rng = args[1].value.lower()
        if rng == "*":
            return tag != ""
        return (tag == rng) | tag.startswith(rng + "-")
    if name == "bound":
        return bind0().display_col().isNotNull()
    if name in ("isiri", "isuri"):
        return bind0().kind_col() == "iri"
    if name == "isblank":
        return bind0().kind_col() == "bnode"
    if name == "isliteral":
        return bind0().kind_col() == "literal"

    # -- numeric builtins (r5 wave 7): evaluate in DECIMAL(38,12) like
    # every other numeric comparison; ABS stays LEXICAL (strip the sign)
    # so "2.50"^^xsd:decimal keeps its exact spelling, and
    # ROUND/CEIL/FLOOR return scale-0 decimals so the string form is the
    # canonical integer spelling ("3", never "3.000000000000")
    if name == "abs":
        return F.regexp_replace(val(0), r"^[+-]", "")
    if name in ("round", "ceil", "floor"):
        num = _value_col(args[0], binds, numeric=True)
        if name == "ceil":
            return F.ceil(num)
        if name == "floor":
            return F.floor(num)
        # XPath fn:round: half rounds toward POSITIVE INFINITY —
        # round(2.5)=3 AND round(-2.5)=-2 (banker's/half-up both differ)
        return F.floor(num + F.lit(0.5).cast("decimal(2,1)"))
    if name == "isnumeric":
        # a literal with a numeric datatype AND a valid lexical form
        b = bind0()
        # coalesce: a NULL datatype (plain literal) must read as FALSE,
        # not as an unbound error — isNumeric is a total test
        return F.coalesce(
            (b.kind_col() == "literal")
            & b.datatype_col().isin(*sorted(_NUMERIC_DTS))
            & b.display_col().rlike(r"^[+-]?(\d+(\.\d*)?|\.\d+)$"),
            F.lit(False),
        )
    if name == "sameterm":
        # exact term identity: value + kind + datatype + lang, null-safe
        # (the scans already normalize xsd:string -> NULL datatype and
        # lowercase lang tags, so RDF 1.1 same-term spellings agree)
        if len(args) != 2:
            raise SparqlError("sameTerm(a, b)")

        def term_cols(a):
            if isinstance(a, Var):
                b = _lookup(a, binds)
                return (b.display_col(), b.kind_col(), b.datatype_col(),
                        b.lang_col())
            if isinstance(a, Iri):
                return (F.lit(a.value), F.lit("iri"), _TEMPLATE_NULL(),
                        _TEMPLATE_NULL())
            if isinstance(a, Lit):
                dt = (None if a.datatype in (None, _XSD_STRING)
                      else a.datatype)
                return (F.lit(a.value), F.lit("literal"),
                        F.lit(dt).cast("string"),
                        F.lit(a.lang.lower() if a.lang else None)
                        .cast("string"))
            raise SparqlUnsupported(
                "sameTerm arguments must be variables or constant terms"
            )

        lcols, rcols = term_cols(args[0]), term_cols(args[1])
        cond = F.lit(True)
        for lc, rc in zip(lcols, rcols):
            cond = cond & lc.eqNullSafe(rc)
        # an UNBOUND argument (NULL value) is a type error, not a match:
        # NULL out — FILTER drops the row, BIND leaves the var unbound
        return F.when(
            lcols[0].isNull() | rcols[0].isNull(),
            F.lit(None).cast("boolean"),
        ).otherwise(cond)

    # -- hash builtins: hex digests as simple literals (SPARQL 17.4.4.x);
    # deterministic, same family as the engine's sha2-everywhere id rule
    if name == "md5":
        return F.md5(val(0))
    if name == "sha1":
        return F.sha1(val(0))
    if name in ("sha256", "sha384", "sha512"):
        return F.sha2(val(0), int(name[3:]))

    # -- dateTime accessors: extract from the xsd:dateTime LEXICAL form
    # (regexp on the canonical 'YYYY-MM-DDTHH:MM:SS[.fff][Z|+HH:MM]'),
    # never via to_timestamp — no session-timezone dependence, and a
    # malformed value yields NULL (unbound), not a wrong number
    if name in ("year", "month", "day", "hours", "minutes", "seconds",
                "tz"):
        pats = {
            "year": r"^(-?\d{4,})-",
            "month": r"^-?\d{4,}-(\d{2})-",
            "day": r"^-?\d{4,}-\d{2}-(\d{2})T",
            "hours": r"T(\d{2}):",
            "minutes": r"T\d{2}:(\d{2}):",
            "seconds": r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
            "tz": r"(Z|[+-]\d{2}:\d{2})$",
        }
        got = F.regexp_extract(val(0), pats[name], 1)
        if name == "tz":
            # TZ: the timezone as a simple literal, "" when absent
            return got
        # strip the zero-padding so the string form is the canonical
        # integer/decimal spelling ("5", "5.5" — never "05")
        return F.when(got != "", F.regexp_replace(got, r"^0(\d)", r"$1"))
    if name in ("now", "rand", "uuid", "struuid"):
        raise SparqlUnsupported(
            f"{name.upper()} is nondeterministic — out of the subset by "
            "the engine's deterministic-id rule (COVERAGE.md C4/C5: "
            "timestamps live in the lineage table, ids are sha2)"
        )
    if name in ("strdt", "strlang"):
        raise SparqlUnsupported(
            f"{name.upper()} constructs a typed/lang literal and is "
            "supported directly in BIND position only (the binding "
            "model carries datatype/lang channels there)"
        )
    if name == "timezone":
        raise SparqlUnsupported(
            "TIMEZONE returns xsd:dayTimeDuration — out of the subset; "
            "use TZ for the lexical zone"
        )
    raise SparqlUnsupported(f"builtin {name!r}")  # pragma: no cover


_TEMPLATE_NULL = lambda: F.lit(None).cast("string")  # noqa: E731


def _construct_frame(
    df: DataFrame, binds: dict[str, _Binding], template: list
) -> DataFrame:
    """Instantiate every template triple per solution row.

    Spec semantics (SPARQL 16.2): an instantiation producing an invalid
    RDF triple (unbound var, literal subject, non-IRI predicate) is
    SKIPPED, not an error — hence the per-template keep flags.

    All template triples instantiate in ONE pass over the solution frame
    (array-of-structs + explode), so the WHERE plan evaluates exactly
    once: N templates never rescan the corpus N times, and a LIMIT-sliced
    solution set instantiates every template from the SAME rows (separate
    per-template scans could slice differently — an internally
    inconsistent derived graph)."""
    structs = [_template_struct(tp, binds) for tp in template]
    out = (
        df.select(F.explode(F.array(*structs)).alias("__t"))
        .select("__t.*")
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    return out.dropDuplicates(
        ["subj", "pred", "obj_value", "obj_kind", "obj_datatype", "obj_lang"]
    )


def _template_struct(
    tp: TriplePattern,
    binds: dict[str, _Binding],
    extra: list[Column] | None = None,
    pre_cond: Column | None = None,
) -> Column:
    """One template triple -> a struct column over the solution frame,
    with a ``__keep`` flag implementing the spec's skip-invalid rule
    (SPARQL 16.2 / Update §3.1.3: instantiations with an unbound var, a
    literal subject, or a non-IRI predicate are dropped, not errors).
    Shared by CONSTRUCT (`extra` empty) and update templates (`extra`
    prepends the doc_id column, `pre_cond` its null guard)."""
    cond = pre_cond if pre_cond is not None else F.lit(True)

    def var_bind(term):
        b = _lookup(term, binds)
        if b.is_graph:
            raise SparqlUnsupported(
                "graph variables cannot appear in term position of a "
                "template"
            )
        return b

    if isinstance(tp.s, Var):
        b = var_bind(tp.s)
        sval = b.display_col()
        cond = cond & sval.isNotNull() & (b.kind_col() != "literal")
    elif isinstance(tp.s, Iri):
        sval = F.lit(tp.s.value)
    else:
        raise SparqlError("a literal cannot be a template subject")

    if isinstance(tp.p, Var):
        b = var_bind(tp.p)
        pval = b.display_col()
        cond = cond & pval.isNotNull() & (b.kind_col() == "iri")
    elif isinstance(tp.p, Iri):
        pval = F.lit(tp.p.value)
    else:
        raise SparqlError("a literal cannot be a template predicate")

    if isinstance(tp.o, Var):
        b = var_bind(tp.o)
        oval, okind = b.display_col(), b.kind_col()
        odt, olang = b.datatype_col(), b.lang_col()
        cond = cond & oval.isNotNull()
    elif isinstance(tp.o, Iri):
        oval, okind = F.lit(tp.o.value), F.lit("iri")
        odt, olang = _TEMPLATE_NULL(), _TEMPLATE_NULL()
    else:  # Lit — same RDF 1.1 canonical spelling as every binding
        oval, okind = F.lit(tp.o.value), F.lit("literal")
        dt = None if tp.o.datatype == _XSD_STRING else tp.o.datatype
        odt = F.lit(dt).cast("string")
        olang = (
            F.lit(tp.o.lang.lower()) if tp.o.lang else _TEMPLATE_NULL()
        )

    return F.struct(
        *(extra or []),
        sval.cast("string").alias("subj"),
        pval.cast("string").alias("pred"),
        oval.cast("string").alias("obj_value"),
        okind.cast("string").alias("obj_kind"),
        odt.cast("string").alias("obj_datatype"),
        olang.cast("string").alias("obj_lang"),
        cond.alias("__keep"),
    )


_QUAD_COLS = [
    "doc_id", "subj", "pred", "obj_value", "obj_kind", "obj_datatype",
    "obj_lang",
]
# canonical quad form, the sources/rdf_parse.py TRIPLES_SCHEMA
_QUAD_SCHEMA = (
    "doc_id binary, subj string, pred string, obj_value string, "
    "obj_kind string, obj_datatype string, obj_lang string"
)


def _quad_frame(
    df: DataFrame, binds: dict[str, _Binding], blocks: tuple
) -> DataFrame:
    """Instantiate an update template's quad blocks per solution row —
    `_construct_frame` plus the doc_id column (constant graph IRIs
    resolve through `graph_doc_id_bytes`; a GRAPH ?var must be a graph
    binding from the WHERE pattern and contributes its raw binary doc
    id). One pass over the solution frame (array + explode): the WHERE
    plan evaluates once per template side however many quads it has."""
    structs: list[Column] = []
    for qb in blocks:
        if isinstance(qb.graph, Iri):
            gval = F.lit(graph_doc_id_bytes(qb.graph.value))
            gcond = F.lit(True)
        else:
            b = _lookup(qb.graph, binds)
            if not b.is_graph:
                raise SparqlError(
                    "the GRAPH ?var of an update template must bind a "
                    "graph in WHERE (use GRAPH ?var { ... } there)"
                )
            gval = F.col(b.val)
            gcond = gval.isNotNull()
        for tp in qb.triples:
            structs.append(
                _template_struct(
                    tp, binds,
                    extra=[gval.cast("binary").alias("doc_id")],
                    pre_cond=gcond,
                )
            )
    out = (
        df.select(F.explode(F.array(*structs)).alias("__t"))
        .select("__t.*")
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    return out.dropDuplicates(_QUAD_COLS)


def _const_quads(spark, blocks: tuple) -> DataFrame:
    """Ground quad blocks (the DATA forms) -> a constant quad frame —
    broadcast-sized by construction (literal query text)."""
    rows: list[tuple] = []
    for qb in blocks:
        gid = graph_doc_id_bytes(qb.graph.value)
        for tp in qb.triples:
            if isinstance(tp.o, Iri):
                oval, okind, odt, olang = tp.o.value, "iri", None, None
            else:
                oval, okind = tp.o.value, "literal"
                odt = (
                    None if tp.o.datatype in (None, _XSD_STRING)
                    else tp.o.datatype
                )
                olang = tp.o.lang.lower() if tp.o.lang else None
            rows.append((gid, tp.s.value, tp.p.value, oval, okind, odt,
                         olang))
    return local_frame(
        spark, sorted(
            set(rows),
            key=lambda r: (r[0].hex(),) + tuple(c or "" for c in r[1:]),
        ),
        _QUAD_SCHEMA,
    )


def _canon_quads(df: DataFrame) -> DataFrame:
    """Canonical quad form: RDF 1.1 xsd:string collapses to a NULL
    datatype, lang tags lowercase — so quad equality (the delete match
    and the insert novelty probe) is one null-safe column comparison."""
    return df.select(
        "doc_id", "subj", "pred", "obj_value", "obj_kind",
        F.when(
            F.col("obj_datatype") == _XSD_STRING, F.lit(None).cast("string")
        ).otherwise(F.col("obj_datatype")).alias("obj_datatype"),
        F.lower(F.col("obj_lang")).alias("obj_lang"),
    )


def _quad_match_cond(left: str, right: str) -> Column:
    """Null-safe full-quad equality between two aliased canonical quad
    frames. doc_id leads the key list so the hash keys Catalyst derives
    are doc_id-prefixed — the corpus side reuses the pipeline's one
    doc_id exchange (subset co-partitioning, plans/pipeline.py) instead
    of reshuffling by the full quad."""
    cond = F.lit(True)
    for c in _QUAD_COLS:
        cond = cond & F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
    return cond


def sparql_update(triples: DataFrame, query_text: str) -> DataFrame:
    """Apply a SPARQL 1.1 Update request (supported subset) to a quad
    frame and return the updated frame.

    Reference analog: the reference's entire WRITE surface is SPARQL
    Update — six of its fifteen bundled templates are INSERT DATA /
    DELETE-INSERT-WHERE requests (`update-task-status.sparql`,
    `append-task-*.sparql`, `write-ttl-file.sparql`, `insert-data.sparql`;
    `SparqlQueryLoad.java` posts them to the store). With this entry
    every reference template — reads AND writes — runs verbatim
    (tests/test_sparql_reference_templates.py).

    Supported: ``INSERT DATA`` / ``DELETE DATA`` (ground, constant-graph
    quads; blank nodes out of the subset — fresh-bnode minting is
    nondeterministic), ``DELETE {} INSERT {} WHERE {}`` with either
    template optional, the ``DELETE WHERE`` shorthand, and ``;``-chained
    operation sequences (each op sees its predecessor's result). Out:
    WITH/USING dataset clauses and the graph-management forms
    (LOAD/CLEAR/DROP/...) — graph lifecycle is the warehouse layer.

    Semantics (Update §3.1.3): within one operation the WHERE pattern
    evaluates once against the CURRENT store; the delete template's
    instantiations are removed and the insert template's added, both
    derived from that same pre-state evaluation. Instantiations with an
    unbound variable are skipped, not errors (the `update-task-status`
    template relies on this: its OPTIONAL dct:modified row deletes only
    when one exists). Quads are always GRAPH-scoped; constant graph IRIs
    resolve via `graph_doc_id_bytes` (urn:doc:HEX == that document, any
    other IRI == the sha256-named external graph, symmetric with reads).

    The returned frame has TRIPLES_SCHEMA in canonical form (xsd:string
    datatype collapsed to NULL, lang lowercased). A graph store is a
    SET: inserts add only quads not already present (novelty anti-join)
    and deletes remove every copy of a matched quad; pre-existing
    duplicate rows of untouched quads pass through unchanged (dedup them
    with kg/graph.py if the corpus needs it — an update should not pay a
    corpus-wide dropDuplicates the query didn't ask for).

    Scale shape: DATA quads are constant broadcast frames; modify
    templates instantiate from ONE evaluation of WHERE per side; both
    the delete anti-join and the insert novelty probe key on the full
    quad with doc_id leading, so the corpus side rides its existing
    doc_id partitioning (subset co-partitioning) and only the
    solution-sized side shuffles. Never a Cartesian product."""
    ops = _Parser(query_text).parse_update()
    spark = triples.sparkSession
    g = _canon_quads(triples)
    for op in ops:
        if op.kind == "insert_data":
            dels, ins = None, _const_quads(spark, op.insert)
        elif op.kind == "delete_data":
            dels, ins = _const_quads(spark, op.delete), None
        else:
            comp = _Compiler(g)
            df, binds = comp.compile_pattern(op.pattern, graph=None)
            if df is None:
                raise SparqlError("empty update WHERE pattern")
            dels = _quad_frame(df, binds, op.delete) if op.delete else None
            ins = _quad_frame(df, binds, op.insert) if op.insert else None
        if dels is not None:
            g = (
                g.alias("__g")
                .join(
                    _canon_quads(dels).alias("__d"),
                    _quad_match_cond("__g", "__d"),
                    "left_anti",
                )
            )
        if ins is not None:
            novel = (
                _canon_quads(ins).alias("__i")
                .join(
                    g.alias("__g"),
                    _quad_match_cond("__i", "__g"),
                    "left_anti",
                )
            )
            g = g.unionByName(novel)
    return g


def _describe_frame(comp: "_Compiler", q: Query) -> DataFrame:
    """Compile DESCRIBE into the per-document concise bounded
    description (see _Parser._describe): target subject rows plus the
    transitive blank-node sub-structure, per document.

    Scale shape: the target set is a distinct node frame (tiny for
    constant targets); the seed join is a semi join on subj; the bnode
    closure REUSES the composite-closure fixpoint over the
    obj_kind='bnode' edge slice (isblank pushes to the scan; path
    doubling keeps long RDF lists O(log n) rounds) keyed by doc_id;
    the output is one more doc-keyed semi join. Output schema == the
    engine's triple frame minus doc_id (graph set semantics, like
    CONSTRUCT), xsd:string normalized, so descriptions compose with
    kg/graph.py and re-enter sparql_select."""
    triples = comp.triples
    nodes: DataFrame | None = None
    if q.pattern:
        df, binds = comp.compile_pattern(q.pattern, graph=None)
        if df is None:
            raise SparqlError("empty DESCRIBE pattern")
        if q.projection is None:  # DESCRIBE *
            names = sorted(n for n in binds if not n.startswith("__path_"))
        else:
            names = [t.name for t in q.projection if isinstance(t, Var)]
            missing = [n for n in names if n not in binds]
            if missing:
                raise SparqlError(f"DESCRIBE vars never bound: {missing}")
        for n in names:
            b = binds[n]
            if b.is_graph:
                raise SparqlUnsupported("DESCRIBE of a graph variable")
            one = df.filter(b.kind_col() != "literal").select(
                F.col(b.val).alias("node")
            )
            nodes = one if nodes is None else nodes.unionByName(one)
    const = [t.value for t in (q.projection or []) if isinstance(t, Iri)]
    if const:
        cdf = local_frame(
            triples.sparkSession, [(c,) for c in const], "node string"
        )
        nodes = cdf if nodes is None else nodes.unionByName(cdf)
    if nodes is None:
        # DESCRIBE ?x with no WHERE: the solution sequence is one empty
        # solution, the target var is unbound, nothing is described —
        # an EMPTY graph, not an error (SPARQL 16.4)
        return local_frame(
            triples.sparkSession, [],
            "subj string, pred string, obj_value string, "
            "obj_kind string, obj_datatype string, obj_lang string",
        )
    nodes = nodes.distinct()

    # seeds: (doc, node) wherever a target has subject rows
    seeds = (
        triples.join(nodes, triples["subj"] == nodes["node"], "left_semi")
        .select("doc_id", F.col("subj").alias("node"))
        .distinct()
    )
    # transitive bnode reach, per document — the composite-closure
    # fixpoint over the any-predicate/bnode-object hop
    hop = (
        TriplePattern(Var("__ds"), Var("__dp"), Var("__do")),
        Filter(Call("isblank", (Var("__do"),))),
    )
    pairs = comp._closure_pairs(
        ClosurePath(hop, "+", "__ds", "__do"), Var("__dg")
    ).select(
        F.col("doc_id").alias("p_doc"),
        F.col("src").alias("p_src"),
        F.col("dst").alias("p_dst"),
    )
    extra = seeds.join(
        pairs,
        (seeds["doc_id"] == pairs["p_doc"]) & (seeds["node"] == pairs["p_src"]),
    ).select(F.col("p_doc").alias("doc_id"), F.col("p_dst").alias("node"))
    desc = (
        seeds.unionByName(extra)
        .distinct()
        .select(F.col("doc_id").alias("d_doc"), F.col("node").alias("d_node"))
    )
    out = triples.join(
        desc,
        (triples["doc_id"] == desc["d_doc"])
        & (triples["subj"] == desc["d_node"]),
        "left_semi",
    )
    return out.select(
        "subj", "pred", "obj_value", "obj_kind",
        F.when(
            F.col("obj_datatype") == _XSD_STRING, F.lit(None).cast("string")
        ).otherwise(F.col("obj_datatype")).alias("obj_datatype"),
        F.lower(F.col("obj_lang")).alias("obj_lang"),
    ).distinct()


def sparql_select(triples: DataFrame, query_text: str) -> DataFrame:
    """Run a SPARQL SELECT/ASK (supported subset) over a triples frame.

    ``triples`` must have the engine's parse schema
    (`sources/rdf_parse.py` TRIPLES_SCHEMA): doc_id(binary), subj, pred,
    obj_value, obj_kind, obj_datatype, obj_lang. Returns a DataFrame with
    one column per projected variable (graph vars as lowercase hex doc
    ids), or a single boolean ``ask`` column for ASK.
    """
    q = parse_sparql(query_text)
    if (
        q.form == "select"
        and len(q.pattern) == 1
        and isinstance(q.pattern[0], SubSelect)
        and not q.order_by
    ):
        # ORDER BY inside / slice outside — the reference pager shape
        # (`fetch-triple-from-file-input-container.sparql`): with the
        # sub-select as the WHOLE pattern, its solution sequence IS the
        # outer one, so the inner order is observable through the outer
        # LIMIT/OFFSET. Hoist the sort to the top level (where it also
        # sorts the final, post-projection frame exactly once).
        sq = q.pattern[0].query
        if sq.order_by and sq.limit is None and not sq.offset:
            # hoist only when the outer query can SHOW the order: every
            # order var must survive the outer projection (a plain
            # projected var, or SELECT * over the sub-select's vars).
            # Otherwise the inner order is unobservable (the outer
            # aggregate/projection destroys it) and the sort is simply
            # dropped — hoisting would mis-raise "ORDER BY vars must be
            # projected" on a valid query.
            outer_names = (
                None if q.projection is None
                else {p.name for p in q.projection if isinstance(p, Var)}
            )
            if outer_names is None or all(
                v.name in outer_names for v, _ in sq.order_by
            ):
                q.order_by = list(sq.order_by)
    comp = _Compiler(triples)
    if q.form == "describe":
        return _describe_frame(comp, q)
    df, binds = comp.compile_pattern(q.pattern, graph=None)
    if df is None:
        raise SparqlError("empty WHERE pattern")

    if q.form == "ask":
        return (
            df.select(F.lit(1).alias("one"))
            .limit(1)
            .agg((F.count(F.lit(1)) > 0).alias("ask"))
        )

    if q.form == "construct":
        # slice the SOLUTION sequence first (spec order), then
        # instantiate the template per solution, union, and dedup: a
        # CONSTRUCT result is a graph (set semantics). Output schema ==
        # the engine's triple frame minus doc_id, so derived triples
        # compose with kg/graph.py and re-enter sparql_select directly.
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return _construct_frame(df, binds, q.template)

    aggs = [p for p in q.projection or [] if isinstance(p, Agg)]
    plain = [p for p in q.projection or [] if isinstance(p, Var)]
    # scale discipline: group/distinct on the RAW value columns (graph
    # vars stay 16-byte binary doc ids through the exchange, half the
    # width of the hex string — plans/pipeline.py hex_doc_id rationale)
    # and re-hex only in the post-aggregation projection. Grouping on the
    # raw doc_id also lets the aggregate reuse the pipeline's existing
    # doc_id exchange (subset co-partitioning), where hex(doc_id) as the
    # grouping expression would force a fresh corpus-wide shuffle.
    hav_aggs = _collect_aggs(q.having) if q.having is not None else []
    if q.having is not None and not (aggs or hav_aggs or q.group_by):
        raise SparqlError("HAVING requires a grouped query")
    if q.group_by and not aggs and not hav_aggs:
        # grouping with no aggregates: one row per group. Expressible as
        # DISTINCT over the keys only when the projection IS the key set
        # (any order); a strict subset would need the group structure —
        # out of subset.
        if {v.name for v in plain} != {v.name for v in q.group_by}:
            raise SparqlUnsupported(
                "GROUP BY without aggregates requires the projection to "
                "equal the group keys"
            )
        if q.having is not None:
            # key-only HAVING over a key-only grouping == a WHERE-side
            # filter on the deduplicated keys; handled post-distinct
            # below via the same compiler (keys are plain columns)
            raise SparqlUnsupported(
                "HAVING without any aggregate is not in the subset "
                "(filter in WHERE instead)"
            )
        q.distinct = True
    if aggs or hav_aggs:
        if q.projection is None:
            raise SparqlError(
                "SELECT * cannot combine with aggregates/HAVING — "
                "project the group keys explicitly"
            )
        keys = q.group_by or plain
        if set(v.name for v in plain) - set(v.name for v in keys):
            raise SparqlError(
                "projected vars must appear in GROUP BY alongside aggregates"
            )
        # HAVING aggregates compute alongside the projected ones in the
        # SAME groupBy (one shuffle); one equal to a projected aggregate
        # reuses its column, the rest get internal aliases dropped by
        # the final projection.
        alias_of: dict[tuple, str] = {a.key(): a.alias for a in aggs}
        agg_list = list(aggs)
        for i, h in enumerate(hav_aggs):
            if h.key() not in alias_of:
                named = Agg(
                    fn=h.fn, distinct=h.distinct, arg=h.arg,
                    alias=f"__hav{i}", sep=h.sep,
                )
                alias_of[h.key()] = named.alias
                agg_list.append(named)
        agg_cols = [
            _agg_expr(a, binds).alias(a.alias) for a in agg_list
        ]
        key_binds = {v.name: _lookup(v, binds) for v in keys}
        key_cols = [F.col(b.val).alias(n) for n, b in key_binds.items()]
        # grouping is TERM-level, the same contract as _subselect:
        # distinct terms sharing a lexical form ("a"@en vs "a"@fr,
        # "5" vs "5"^^xsd:integer) stay distinct groups. The metadata
        # key columns ride the same exchange and stay internal — the
        # final projection never sees them.
        for n, b in key_binds.items():
            if not b.is_graph:
                key_cols += [
                    b.kind_col().alias(f"__gk_{n}"),
                    b.datatype_col().alias(f"__gd_{n}"),
                    b.lang_col().alias(f"__gl_{n}"),
                ]
        out = (
            df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)
        )
        if q.having is not None:
            out = out.filter(_having_col(q.having, alias_of, key_binds))
        # project EXACTLY the declared projection, in declaration order;
        # group keys that aren't projected stay internal
        out = out.select(
            *[
                F.col(p.alias)
                if isinstance(p, Agg)
                else (
                    F.lower(F.hex(p.name))
                    if key_binds[p.name].is_graph
                    else F.col(p.name)
                ).alias(p.name)
                for p in q.projection
            ]
        )
    else:
        if q.projection is None:  # SELECT *
            # internal fresh vars minted by path desugaring are not
            # user-visible (SPARQL 18.2.2.4)
            names = sorted(n for n in binds if not n.startswith("__path_"))
        else:
            names = [v.name for v in plain]
            missing = [n for n in names if n not in binds]
            if missing:
                raise SparqlError(f"projected vars never bound: {missing}")
        sel_binds = [(n, binds[n]) for n in names if n in binds]
        sel_cols = [F.col(b.val).alias(n) for n, b in sel_binds]
        if q.distinct and q.group_by:
            # key-only GROUP BY rewrites to DISTINCT — at TERM level,
            # the same contract as the aggregate branch and _subselect
            # ("a"@en / "a"@fr are two groups): dedupe with the
            # kind/datatype/lang keys in scope, then drop them
            meta = []
            for n, b in sel_binds:
                if not b.is_graph:
                    meta += [
                        b.kind_col().alias(f"__gk_{n}"),
                        b.datatype_col().alias(f"__gd_{n}"),
                        b.lang_col().alias(f"__gl_{n}"),
                    ]
            out = (
                df.select(*sel_cols, *meta)
                .distinct()
                .select(*[n for n, _ in sel_binds])
            )
        else:
            out = df.select(*sel_cols)
            if q.distinct:
                out = out.distinct()
        out = out.select(
            *[
                (F.lower(F.hex(n)) if b.is_graph else F.col(n)).alias(n)
                for n, b in sel_binds
            ]
        )

    if q.distinct and aggs:
        out = out.distinct()
    if q.order_by:
        sort_cols = []
        for v, asc in q.order_by:
            if v.name not in out.columns:
                raise SparqlUnsupported(
                    "ORDER BY vars must be projected in this subset"
                )
            sort_cols.append(F.col(v.name).asc() if asc else F.col(v.name).desc())
        out = out.sort(*sort_cols)
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out
