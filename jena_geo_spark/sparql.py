"""SPARQL entry point: the reference's production query surface on Spark.

The reference's only user-facing query path is an HTTP SPARQL service
(``example/ExampleWebService.java:13-33`` →
``util/TripleStoreConnection.java:71-186``): prefix header prepended,
Jena ARQ parses/executes the SELECT against a dim-scale in-memory Turtle
model, every FILTER/BIND expression dispatches into the 423-function
registry, and the response is a JSON object ``{geojson, data, size}``
where ``?*_geom`` variables become GeoJSON FeatureCollections
(``TripleStoreConnection.java:83-186``).

This module re-creates that surface Spark-first:

* a **Turtle-subset reader** (prefixes, ``;``/``,`` lists, typed
  literals) → a triples DataFrame, mirroring the reference's
  ``modelmap`` of dim-scale ``.ttl`` models
  (``TripleStoreConnection.java:56-63``);
* a **SPARQL-subset parser** (SELECT [DISTINCT], BGP, FILTER, BIND,
  OPTIONAL, UNION, MINUS, VALUES, subqueries, property paths
  ``^ / | ? * +``, GROUP BY + HAVING, ORDER BY, LIMIT, OFFSET, the
  §17.4 builtin function library, GROUP_CONCAT/SAMPLE set functions) —
  the grammar the reference's own example/benchmark queries use
  (``TripleStoreConnection.java:190-203``) plus the ARQ-inherited
  surface around it.  Path closures (? * +) compile to a distributed
  reachability operator: frontier BFS when an endpoint is constant,
  pointer doubling (O(log diameter) rounds) for var–var — where ARQ
  walks the in-memory graph one binding at a time (jena-arq ALP);
* a **compiler to DataFrame plans**.  Two model backends:

  - :class:`TriplesModel` — a distributed ``(s, p, o, dt)`` frame (from
    Turtle); each triple pattern is a predicate-filtered scan, patterns
    sharing a subject join on ``s``.  This mirrors the classic
    vertical-partitioning design of SPARQL-on-Spark engines (SPARQLGX,
    S2RDF — see PAPERS.md): predicate constants prune at the scan.
  - :class:`PropertyTable` — a wide table (e.g. the images parquet)
    whose columns are declared as predicates.  A subject-star BGP over
    one property table compiles to **one scan, zero shuffle, zero
    joins** (plan-asserted in tests): the star-join that a triple store
    executes as N self-joins is free in columnar form.  This is the
    100 TB path — SPARQL over the 10^12-row image+caption table.

* a **spatial-join rewrite**: ARQ evaluates ``?a ?b`` cross products
  with a ``FILTER(geo2:ST_Within(...))`` binding-at-a-time (nested
  loop, SURVEY §2.5).  When the filter's two geometry arguments come
  from unconnected parts of the BGP and the backend declares one side
  as points and the other as polygons, the compiler emits the engine's
  cell-cover spatial join (broadcast/salted equi-join + exact PIP
  refine, ``operators/spatial_join.py``) instead of
  ``crossJoin().filter()`` — the north-rule re-architecture applied at
  the SPARQL level.

* a **service layer** ``query_service`` returning the reference's JSON
  response shape (``{geojson, data, size}``; ``*_geom`` vars grouped
  into FeatureCollections), reusing ``operators/geojson_sink``.

Scale notes: Turtle models are dim-scale by design (the reference holds
them fully in memory per request); frame-scale data enters through
:class:`PropertyTable` where scans stay columnar and pruned.  Only the
query *string* is parsed on the driver; all evaluation is Catalyst.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import registry as REG
from .partitioning import widen_if_narrow

# ----------------------------------------------------------------- prefixes --

# the reference prepends these to every query (TripleStoreConnection.java:32-41)
BUILTIN_PREFIXES = {
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "geo": "http://www.opengis.net/ont/geosparql#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "geo2": "http://www.opengis.net/ont/geosparqlplus#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "geof": "http://www.opengis.net/def/function/geosparql/",
}

RDF_TYPE = BUILTIN_PREFIXES["rdf"] + "type"
WKT_DT = BUILTIN_PREFIXES["geo"] + "wktLiteral"
GEO_ASWKT = BUILTIN_PREFIXES["geo"] + "asWKT"

# GeoSPARQL property functions (query-rewrite predicates): the reference
# enables these via GeoSPARQLConfig.setupMemoryIndex()
# (PostGISConfig.java:812, TripleStoreConnection.java:42); a triple
# ``?a geo:sfWithin ?b`` is sugar for the predicate over the two
# features' geometries.  Mapped to the registered st_* relation names.
GEO_PF = {
    BUILTIN_PREFIXES["geo"] + n: n.lower()
    for n in (
        "sfWithin", "sfContains", "sfIntersects", "sfTouches",
        "sfCrosses", "sfOverlaps", "sfEquals", "sfDisjoint",
        # Egenhofer (§9) and RCC8 (§10) property functions — same
        # query-rewrite sugar, dispatched through the geof: filter
        # surface's DE-9IM patterns
        "ehEquals", "ehDisjoint", "ehMeet", "ehOverlap", "ehCovers",
        "ehCoveredBy", "ehInside", "ehContains",
        "rcc8eq", "rcc8dc", "rcc8ec", "rcc8po", "rcc8tppi", "rcc8tpp",
        "rcc8ntpp", "rcc8ntppi",
    )
}
# jena-spatial property functions (geosparql-jena 1.1.2's second PF
# namespace — the reference enables it with the same setupMemoryIndex()):
# ``?s spatial:nearby (lat lon radius [units [limit]])``.
SPATIAL_NS = "http://jena.apache.org/spatial#"
SPATIAL_PF = {
    SPATIAL_NS + n: n.lower()
    for n in (
        "nearby", "withinCircle", "withinBox", "intersectBox",
        "north", "south", "east", "west",
        "nearbyGeom", "withinCircleGeom", "withinBoxGeom",
        "intersectBoxGeom", "northGeom", "southGeom", "eastGeom",
        "westGeom",
    )
}
# unit IRI/string → (name, metres-per-unit); degree is the planar mode
_SPATIAL_UNITS = {
    "metre": ("m", 1.0), "meter": ("m", 1.0), "m": ("m", 1.0),
    "kilometre": ("km", 1000.0), "kilometer": ("km", 1000.0), "km": ("km", 1000.0),
    "mile": ("mi", 1609.344), "statutemile": ("mi", 1609.344), "mi": ("mi", 1609.344),
    "degree": ("degree", None), "degrees": ("degree", None), "deg": ("degree", None),
}

_SF_FUNC = {
    "sfwithin": "st_within",
    "sfcontains": "st_contains",
    "sfintersects": "st_intersects",
    "sftouches": "st_touches",
    "sfcrosses": "st_crosses",
    "sfoverlaps": "st_overlaps",
    "sfequals": "st_equals",
    "sfdisjoint": "st_disjoint",
}

# geof: names whose kernels live in the registry under st_* (the reference
# SPARQL side gets these from geosparql-jena's FunctionRegistry; its SQL
# side never registers the geof: spellings, so the alias lives here).
_GEOF_ALIAS = {
    "convexhull": "st_convexhull",
    "boundary": "st_boundary",
    "intersection": "st_intersection",
    "union": "st_union",
    "symdifference": "st_symdifference",
}

# GeoSPARQL Egenhofer (§9) / RCC8 (§10) relation families, OGC 11-052r4
# tables 6-7 as DE-9IM patterns over the relate kernel.  ehMeet is the
# three-pattern disjunction FT*******|F**T*****|F***T**** ≡ sfTouches and
# dispatches to st_touches instead.
_EH_RCC8 = {
    "ehequals": "TFFFTFFFT",
    "ehdisjoint": "FF*FF****",
    "ehoverlap": "T*T***T**",
    "ehcovers": "T*TFT*FF*",
    "ehcoveredby": "TFF*TFT**",
    "ehinside": "TFF*FFT**",
    "ehcontains": "T*TFF*FF*",
    "rcc8eq": "TFFFTFFFT",
    "rcc8dc": "FFTFFTTTT",
    "rcc8ec": "FFTFTTTTT",
    "rcc8po": "TTTTTTTTT",
    "rcc8tppi": "TTTFTTFFT",
    "rcc8tpp": "TFFTTFTTT",
    "rcc8ntpp": "TFFTFFTTT",
    "rcc8ntppi": "TTTFFTFFT",
}

# metres per degree of arc on the mean-radius sphere — the same
# kernel._EARTH_RADIUS_M the distance family uses, so a metre-unit
# geof:buffer radius and a geof:distance result agree with each other.
_M_PER_DEG = 6371008.7714 * math.pi / 180.0

# jena-spatial filter-function namespace — registered in the reference by
# GeoSPARQLConfig.setupMemoryIndex() (PostGISConfig.java:812) from
# geosparql-jena 1.1.2's spatial.filter_functions package
SPATIALF_NS = "http://jena.apache.org/function/spatial#"


# ------------------------------------------------------------- turtle reader --


def parse_turtle(text: str) -> list[tuple[str, str, str, str | None]]:
    """Parse a Turtle subset into (s, p, o, dt) tuples.

    Covers what the reference's own ``.ttl`` models use
    (``owl/testdata.ttl``): ``@prefix``/``@base``, IRIs, prefixed names,
    ``;`` predicate lists, ``,`` object lists, plain/typed/numeric
    literals, the ``a`` keyword, labeled ``_:b`` and anonymous
    ``[ p o ; … ]`` blank nodes, comments.  Blank nodes become ``_:``
    terms in the triples table (anonymous ones get fresh ``_:__anonN``
    labels) — opaque strings a query VARIABLE binds but a query-side
    blank node never equates to (correct: query bnodes are
    existentials, not references).  Driver-side by design — the
    reference also parses models in one JVM (dim-scale configuration
    data); frame-scale facts belong in a :class:`PropertyTable`.
    """
    prefixes: dict[str, str] = dict(BUILTIN_PREFIXES)
    toks = _tokenize_ttl(text)
    out: list[tuple[str, str, str, str | None]] = []
    i = 0
    anon = [0]

    def term(j):
        t = toks[j]
        if t[0] == "bnode":
            return ("iri", t[1]), j + 1
        if t[0] == "lbrk":
            anon[0] += 1
            label = f"_:__anon{anon[0]}"
            j += 1
            if toks[j][0] != "rbrk":
                j = pred_obj_list(label, j)
            if toks[j][0] != "rbrk":
                raise ValueError(f"unterminated [ …: {toks[j]}")
            return ("iri", label), j + 1
        if t[0] == "iri":
            return ("iri", t[1]), j + 1
        if t[0] == "pname":
            pfx, local = t[1].split(":", 1)
            if pfx not in prefixes:
                raise ValueError(f"undeclared prefix {pfx!r}")
            return ("iri", prefixes[pfx] + local), j + 1
        if t[0] == "str":
            dt = None
            if j + 1 < len(toks) and toks[j + 1][0] == "dtsep":
                dtt = toks[j + 2]
                if dtt[0] == "iri":
                    dt = dtt[1]
                else:
                    pfx, local = dtt[1].split(":", 1)
                    dt = prefixes[pfx] + local
                return ("lit", t[1], dt), j + 3
            return ("lit", t[1], None), j + 1
        if t[0] == "num":
            return ("lit", t[1], None), j + 1
        if t[0] == "kw" and t[1] == "a":
            return ("iri", RDF_TYPE), j + 1
        raise ValueError(
            f"unexpected turtle token {t} (context: {toks[max(0, j-6):j+3]})"
        )

    def pred_obj_list(subj: str, j: int) -> int:
        while True:
            pred, j = term(j)
            while True:
                obj, j = term(j)
                o_lex = obj[1]
                o_dt = obj[2] if obj[0] == "lit" else None
                out.append((subj, pred[1], o_lex, o_dt))
                if j < len(toks) and toks[j][0] == "comma":
                    j += 1
                    continue
                break
            if j < len(toks) and toks[j][0] == "semi":
                j += 1
                # trailing ';' before '.' / ']'
                if j < len(toks) and toks[j][0] in ("dot", "rbrk"):
                    break
                continue
            break
        return j

    while i < len(toks):
        t = toks[i]
        if t[0] == "kw" and t[1] in ("@prefix", "@base"):
            if t[1] == "@prefix":
                pfx = toks[i + 1][1].rstrip(":")
                prefixes[pfx] = toks[i + 2][1]
                i += 3
            else:
                i += 2
            if i < len(toks) and toks[i][0] == "dot":
                i += 1
            continue
        was_bnpl = t[0] == "lbrk"
        subj, i = term(i)
        # `[ p o ; … ] .` — the trailing predicate list is optional for
        # a blankNodePropertyList subject (Turtle grammar [10])
        if not (was_bnpl and i < len(toks) and toks[i][0] == "dot"):
            i = pred_obj_list(subj[1], i)
        if i < len(toks) and toks[i][0] == "dot":
            i += 1
    return out


def _tokenize_ttl(text: str):
    text = re.sub(r"(?m)^\s*#.*$", "", text)
    pat = re.compile(
        r"""\s+
          | (?P<kw>@prefix|@base|\ba\b)
          | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
          | (?P<iri><[^<>\s]*>)
          | (?P<lstr>"{3}(?:[^"\\]|\\.|"(?!"{2}))*"{3})
          | (?P<str>"(?:[^"\\]|\\.)*")
          | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
          | (?P<bnode>_:[A-Za-z_]\w*)
          | (?P<pname>[A-Za-z_][\w.-]*:[A-Za-z_](?:[\w.-]*[\w-])?
                      |[A-Za-z_][\w.-]*:
                      |:[A-Za-z_](?:[\w.-]*[\w-])?
                      |:)
          | (?P<dtsep>\^\^)
          | (?P<semi>;)
          | (?P<comma>,)
          | (?P<dot>\.)
          | (?P<lbrk>\[)
          | (?P<rbrk>\])
        """,
        re.VERBOSE,
    )
    toks, pos = [], 0
    while pos < len(text):
        m = pat.match(text, pos)
        if not m:
            raise ValueError(f"turtle tokenize error at {text[pos:pos+40]!r}")
        pos = m.end()
        for name in ("kw", "lang", "iri", "lstr", "str", "num", "bnode", "pname", "dtsep", "semi", "comma", "dot", "lbrk", "rbrk"):
            v = m.group(name)
            if v is not None:
                if name == "lang":
                    break  # language tag: keep the plain literal
                if name == "iri":
                    v = v[1:-1]
                elif name == "lstr":
                    v = re.sub(r"\\(.)", r"\1", v[3:-3])
                    name = "str"
                elif name == "str":
                    v = re.sub(r"\\(.)", r"\1", v[1:-1])
                toks.append((name, v))
                break
    return toks


def triples_from_turtle(spark: SparkSession, text: str) -> DataFrame:
    rows = parse_turtle(text)
    return spark.createDataFrame(rows, schema="s string, p string, o string, dt string")


# ---------------------------------------------------------------- SPARQL AST --


@dataclass
class Var:
    name: str


@dataclass
class Lit:
    value: object
    dt: str | None = None


@dataclass
class Iri:
    iri: str


@dataclass
class Func:
    iri: str
    args: list
    distinct: bool = False  # COUNT(DISTINCT ?x) form


@dataclass
class Op2:
    op: str
    left: object
    right: object


@dataclass
class Op1:
    op: str
    arg: object


@dataclass
class Triple:
    s: object
    p: object
    o: object


@dataclass
class Filter:
    expr: object


@dataclass
class Bind:
    expr: object
    var: str


@dataclass
class Group:
    items: list = field(default_factory=list)


@dataclass
class Optional_:
    group: Group


@dataclass
class Minus:
    group: Group


@dataclass
class ExistsFilter:
    group: Group
    negated: bool


@dataclass
class Values:
    vars: list
    rows: list  # list of tuples, None = UNDEF


@dataclass
class Union:
    groups: list


# -- property paths (SPARQL 1.1 §9).  ^ / | desugar to plain triples and
# UNIONs at parse time; ? * + become a PathClosure group item compiled as
# a distributed reachability operator (sparql.py:_path_closure_frame).
@dataclass
class PathInv:
    path: object


@dataclass
class PathSeq:
    parts: list


@dataclass
class PathAlt:
    parts: list


@dataclass
class PathMod:
    path: object
    mod: str  # '?' | '*' | '+'


@dataclass
class PathNPS:
    """Negated property set ``!(p1|^p2|…)`` (SPARQL 1.1 §9.1 / §18.2.2.3).
    The forward members match any triple whose predicate is NOT in
    ``fwd``; the inverse members match any INVERSE triple whose predicate
    is not in ``inv`` (W3C translation: ``!(F|^I)`` ≡ ``NPS(F) | ^NPS(I)``,
    each branch present only when its member list is non-empty — except
    ``!()`` which is the all-predicates forward match)."""

    fwd: tuple  # forward IRIs excluded
    inv: tuple  # inverse IRIs excluded


@dataclass
class PathClosure:
    """Group item: ``s (p1|^p2|…){mod} o`` over atomic edge predicates."""

    s: object
    # flattened alternatives (each a sequence of (pred_iri, inverted)
    # steps) — or, when the body nests ? * +, the raw path AST for
    # recursive relation evaluation (_path_relation)
    edges: object
    o: object
    # '?' | '*' | '+' — or 'seq' (r6): the body is a whole SEQUENCE
    # containing zero-admitting steps, evaluated as one relation with
    # the identity added iff the sequence admits zero end-to-end (see
    # _expand_path: fresh-variable chaining is wrong for such bodies)
    mod: str


@dataclass
class SubSelect:
    """Group item: ``{ SELECT … WHERE { … } }`` — SPARQL 1.1 §12."""

    query: object  # Query


@dataclass
class Coll:
    """RDF collection in object position — ``?s spatial:nearby (49.9 8.2
    0.5)``.  Only consumed by the spatial property functions; generic
    rdf:first/rest expansion is out of scope (explicit boundary)."""

    items: list


@dataclass
class SpatialPF:
    """Group item: a jena-spatial property function over a subject star
    (``spatial:nearby`` / ``withinCircle`` / ``withinBox`` /
    ``intersectBox`` — the reference's geosparql-jena 1.1.2 surface,
    SURVEY §2.3 kNN).  ``geom_var`` is the subject's geo:asWKT variable;
    the compiler applies the constraint to that star's frame."""

    s: object  # subject Var
    name: str  # 'nearby' | 'withincircle' | 'withinbox' | 'intersectbox'
    args: list  # parsed collection terms
    geom_var: str = ""


@dataclass
class Query:
    select: list | None  # None = SELECT *; items: ("var", name) | ("expr", ast, alias)
    distinct: bool
    where: Group
    order_by: list  # [(var, asc)]
    limit: int | None
    offset: int | None
    group_by: list = field(default_factory=list)
    having: object | None = None  # expression AST (constraints AND-ed)
    form: str = "select"  # 'select' | 'ask' | 'construct' | 'describe'
    template: list = field(default_factory=list)  # CONSTRUCT triples
    describe_terms: list = field(default_factory=list)  # Var/Iri; ["*"] = all


# ------------------------------------------------------------ SPARQL parsing --

_SPARQL_TOK = re.compile(
    r"""\s+
      | (?P<comment>\#[^\n]*)
      | (?P<iri><[^<>\s]*>)
      | (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<var>\?[A-Za-z_]\w*)
      | (?P<bnode>_:[A-Za-z_]\w*)
      | (?P<pname>[A-Za-z_][\w.-]*:[A-Za-z_][\w-]*|[A-Za-z_][\w.-]*:|:[A-Za-z_][\w-]*|:)
      | (?P<word>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<dtsep>\^\^)
      | (?P<op>&&|\|\||!=|<=|>=|[=<>!+\-*/|^?])
      | (?P<punct>[{}()\[\].;,])
    """,
    re.VERBOSE,
)


def _tokenize_sparql(text: str):
    toks, pos = [], 0
    while pos < len(text):
        m = _SPARQL_TOK.match(text, pos)
        if not m:
            raise ValueError(f"SPARQL tokenize error at {text[pos:pos+40]!r}")
        pos = m.end()
        for name in ("iri", "str", "num", "var", "bnode", "pname", "word", "dtsep", "op", "punct"):
            v = m.group(name)
            if v is not None:
                if name == "iri":
                    v = v[1:-1]
                elif name == "str":
                    v = re.sub(r"\\(.)", r"\1", v[1:-1])
                toks.append((name, v))
                break
    return toks


class _Parser:
    def __init__(self, text: str):
        self.prefixes = dict(BUILTIN_PREFIXES)
        self.toks = _tokenize_sparql(text)
        self.i = 0
        self._fresh = 0

    def _freshvar(self) -> str:
        self._fresh += 1
        return f"__p{self._fresh}"

    # -- token helpers
    def peek(self, k=0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def kw(self, word) -> bool:
        t = self.peek()
        if t[0] == "word" and t[1].upper() == word:
            self.i += 1
            return True
        return False

    def expect(self, kind, val=None):
        t = self.next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise ValueError(f"expected {kind} {val or ''}, got {t}")
        return t

    def expand(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise ValueError(f"undeclared prefix {pfx!r}")
        return self.prefixes[pfx] + local

    # -- grammar
    def parse(self) -> Query:
        while self.kw("PREFIX"):
            pn = self.expect("pname")[1]
            iri = self.expect("iri")[1]
            self.prefixes[pn.rstrip(":")] = iri
        if self.kw("ASK"):
            q = self.ask_query()
        elif self.kw("CONSTRUCT"):
            q = self.construct_query()
        elif self.kw("DESCRIBE"):
            q = self.describe_query()
        else:
            q = self.select_query()
        t = self.peek()
        if t[0] != "eof":
            raise ValueError(f"unparsed tokens at end of query, starting at {t}")
        return q

    def ask_query(self) -> Query:
        """``ASK [WHERE] { … }`` — SPARQL 1.1 §16.3."""
        self.kw("WHERE")
        return Query([], False, self.group(), [], None, None, form="ask")

    def construct_query(self) -> Query:
        """``CONSTRUCT { template } WHERE { … } [LIMIT/OFFSET]`` —
        SPARQL 1.1 §16.2.  The template is a plain triple block; template
        blank nodes mean a FRESH bnode per solution (§16.2.1).  The
        ``CONSTRUCT WHERE { … }`` shorthand (§16.2.4) uses one triple
        block as both template and pattern."""
        if self.kw("WHERE"):
            # §16.2.4 short form: the pattern doubles as the template and
            # must be triple patterns only (no FILTER/BIND/paths/groups)
            where = self.group()
            template = [it for it in where.items if isinstance(it, Triple)]
            if len(template) != len(where.items) or any(
                isinstance(t.o, Coll) for t in template
            ):
                raise ValueError(
                    "CONSTRUCT WHERE {} allows only triple patterns"
                )
            for t in template:
                for side in (t.s, t.p, t.o):
                    if isinstance(side, Var) and side.name.startswith("__p"):
                        raise ValueError(
                            "property paths are not allowed in "
                            "CONSTRUCT WHERE {}"
                        )
            limit = offset = None
            while True:
                if self.kw("LIMIT"):
                    limit = int(self.expect("num")[1])
                elif self.kw("OFFSET"):
                    offset = int(self.expect("num")[1])
                else:
                    break
            return Query(
                None, False, where, [], limit, offset,
                form="construct", template=template,
            )
        tg = self.group()
        template = [it for it in tg.items if isinstance(it, Triple)]
        if len(template) != len(tg.items) or any(
            isinstance(t.o, Coll) for t in template
        ):
            raise NotImplementedError(
                "CONSTRUCT template must be plain triples"
            )
        # group() expands property paths into chains over fresh __pN
        # variables; a path in a CONSTRUCT template is invalid SPARQL and
        # would otherwise silently emit zero triples (fresh vars are never
        # bound by the WHERE frame).
        for t in template:
            for side in (t.s, t.p, t.o):
                if isinstance(side, Var) and side.name.startswith("__p"):
                    raise ValueError(
                        "property paths are not allowed in a CONSTRUCT "
                        "template"
                    )
        if not self.kw("WHERE"):
            raise ValueError("CONSTRUCT without WHERE")
        where = self.group()
        # §19.6: a bnode label is scoped to one basic graph pattern —
        # reusing a template label inside the WHERE pattern is a syntax
        # error in ARQ, and silently joining on the existential would be
        # wrong anyway (template bnodes are always FRESH per solution).
        tmpl_labels = {
            side.name
            for t in template
            for side in (t.s, t.p, t.o)
            if isinstance(side, Var) and side.name.startswith("__bn_")
        }
        if tmpl_labels and tmpl_labels & _collect_var_names(where):
            shared = sorted(tmpl_labels & _collect_var_names(where))
            raise ValueError(
                "blank node label used in both CONSTRUCT template and "
                f"WHERE pattern: {', '.join(n[5:] for n in shared)}"
            )
        limit = offset = None
        while True:
            if self.kw("LIMIT"):
                limit = int(self.expect("num")[1])
            elif self.kw("OFFSET"):
                offset = int(self.expect("num")[1])
            else:
                break
        return Query(
            None, False, where, [], limit, offset,
            form="construct", template=template,
        )

    def describe_query(self) -> Query:
        """``DESCRIBE (VarOrIri+ | *) [WHERE {…}] [LIMIT/OFFSET]`` —
        SPARQL 1.1 §16.4.  The description form is the subject-rooted
        bounded description (ARQ's default DescribeHandler); the term
        model here has no blank nodes, so that is exactly the resource's
        subject triples."""
        terms: list = []
        while True:
            t = self.peek()
            if t[0] == "var":
                terms.append(Var(self.next()[1][1:]))
            elif t[0] == "iri":
                terms.append(Iri(self.next()[1]))
            elif t[0] == "pname":
                terms.append(Iri(self.expand(self.next()[1])))
            elif t == ("op", "*") and not terms:
                self.next()
                terms = ["*"]
                break
            else:
                break
        if not terms:
            raise ValueError("DESCRIBE needs at least one variable or IRI")
        where = None
        if self.kw("WHERE") or self.peek() == ("punct", "{"):
            where = self.group()
        limit = offset = None
        while True:
            if self.kw("LIMIT"):
                limit = int(self.expect("num")[1])
            elif self.kw("OFFSET"):
                offset = int(self.expect("num")[1])
            else:
                break
        if terms == ["*"] and where is None:
            raise ValueError("DESCRIBE * needs a WHERE pattern")
        if where is None and any(isinstance(t, Var) for t in terms):
            raise ValueError("DESCRIBE with variables needs a WHERE pattern")
        return Query(
            None, False, where, [], limit, offset,
            form="describe", describe_terms=terms,
        )

    def select_query(self) -> Query:
        if not self.kw("SELECT"):
            raise ValueError(
                "only SELECT/ASK/CONSTRUCT/DESCRIBE queries are supported"
            )
        # REDUCED permits any duplicate elimination between none and all
        # (§18.2.5.2) — evaluating it as DISTINCT is a conformant choice
        # (ARQ's REDUCED drops adjacent duplicates; any cardinality in
        # [distinct, bag] is valid)
        distinct = self.kw("DISTINCT") or self.kw("REDUCED")
        select: list | None = []
        if self.peek() == ("op", "*"):
            self.next()
            select = None
        else:
            while True:
                t = self.peek()
                if t[0] == "var":
                    select.append(("var", self.next()[1][1:]))
                elif t == ("punct", "("):
                    self.next()
                    e = self.expr()
                    if not self.kw("AS"):
                        raise ValueError("projection expression without AS")
                    v = self.expect("var")[1][1:]
                    self.expect("punct", ")")
                    select.append(("expr", e, v))
                else:
                    break
        self.kw("WHERE")
        where = self.group()
        order, limit, offset, group_by, having = [], None, None, [], None
        while True:
            if self.kw("GROUP"):
                if not self.kw("BY"):
                    raise ValueError("GROUP without BY")
                while self.peek()[0] == "var":
                    group_by.append(self.next()[1][1:])
            elif self.kw("HAVING"):
                # one or more constraints, AND-ed (§11.4.9): each is a
                # bracketted expression or a bare builtin/function call
                # (lenient: a bare call may carry a trailing comparison)
                while True:
                    t = self.peek()
                    if t == ("punct", "("):
                        self.next()
                        e = self.expr()
                        self.expect("punct", ")")
                    elif t[0] in ("word", "pname", "iri") and self.peek(1) == (
                        "punct",
                        "(",
                    ):
                        e = self._cmp()
                    else:
                        break
                    having = e if having is None else Op2("&&", having, e)
            elif self.kw("ORDER"):
                if not self.kw("BY"):
                    raise ValueError("ORDER without BY")
                while True:
                    t = self.peek()
                    if t[0] == "var":
                        order.append((self.next()[1][1:], True))
                    elif t[0] == "word" and t[1].upper() in ("ASC", "DESC"):
                        asc = self.next()[1].upper() == "ASC"
                        self.expect("punct", "(")
                        order.append((self.expect("var")[1][1:], asc))
                        self.expect("punct", ")")
                    else:
                        break
            elif self.kw("LIMIT"):
                limit = int(self.expect("num")[1])
            elif self.kw("OFFSET"):
                offset = int(self.expect("num")[1])
            else:
                break
        return Query(select, distinct, where, order, limit, offset, group_by, having)

    def group(self) -> Group:
        self.expect("punct", "{")
        g = Group()
        while True:
            t = self.peek()
            if t == ("punct", "}"):
                self.next()
                return g
            if t[0] == "word" and t[1].upper() == "FILTER":
                self.next()
                nt = self.peek()
                if nt[0] == "word" and nt[1].upper() in ("EXISTS", "NOT"):
                    negated = nt[1].upper() == "NOT"
                    self.next()
                    if negated and not self.kw("EXISTS"):
                        raise ValueError("FILTER NOT without EXISTS")
                    g.items.append(ExistsFilter(self.group(), negated))
                else:
                    self.expect("punct", "(")
                    g.items.append(Filter(self.expr()))
                    self.expect("punct", ")")
            elif t[0] == "word" and t[1].upper() == "BIND":
                self.next()
                self.expect("punct", "(")
                e = self.expr()
                if not self.kw("AS"):
                    raise ValueError("BIND without AS")
                v = self.expect("var")[1][1:]
                self.expect("punct", ")")
                g.items.append(Bind(e, v))
            elif t[0] == "word" and t[1].upper() == "VALUES":
                self.next()
                vs: list[str] = []
                if self.peek()[0] == "var":
                    vs.append(self.next()[1][1:])
                else:
                    self.expect("punct", "(")
                    while self.peek()[0] == "var":
                        vs.append(self.next()[1][1:])
                    self.expect("punct", ")")
                self.expect("punct", "{")
                rows = []
                while self.peek() != ("punct", "}"):
                    if len(vs) == 1:
                        rows.append((self._values_term(),))
                    else:
                        self.expect("punct", "(")
                        row = tuple(self._values_term() for _ in vs)
                        self.expect("punct", ")")
                        rows.append(row)
                self.next()
                g.items.append(Values(vs, rows))
            elif t[0] == "word" and t[1].upper() == "OPTIONAL":
                self.next()
                g.items.append(Optional_(self.group()))
            elif t[0] == "word" and t[1].upper() == "MINUS":
                self.next()
                g.items.append(Minus(self.group()))
            elif t == ("punct", "{"):
                if self.peek(1)[0] == "word" and self.peek(1)[1].upper() == "SELECT":
                    self.next()
                    sub = self.select_query()
                    self.expect("punct", "}")
                    g.items.append(SubSelect(sub))
                else:
                    branches = [self.group()]
                    while self.kw("UNION"):
                        branches.append(self.group())
                    # single-branch Union == plain group-graph-pattern join
                    # (a bare Group item would be silently skipped by the
                    # compiler's isinstance chain)
                    g.items.append(Union(branches))
            else:
                self.triples(g)
            # optional '.' separators
            while self.peek() == ("punct", "."):
                self.next()

    def _values_term(self):
        t = self.peek()
        if t[0] == "word" and t[1].upper() == "UNDEF":
            self.next()
            return None
        term = self.term()
        if isinstance(term, Lit):
            return term.value
        if isinstance(term, Iri):
            return term.iri
        raise ValueError(f"VALUES entries must be literals/IRIs, got {term}")

    def term(self):
        t = self.next()
        if t[0] == "var":
            return Var(t[1][1:])
        if t[0] == "bnode":
            # labeled blank node: an existential scoped to the query —
            # a non-projectable variable (§18.2.1); one Var per label
            return Var("__bn_" + t[1][2:])
        if t[0] == "iri":
            return Iri(t[1])
        if t[0] == "pname":
            return Iri(self.expand(t[1]))
        if t[0] == "word" and t[1] == "a":
            return Iri(RDF_TYPE)
        if t[0] == "str":
            dt = None
            if self.peek()[0] == "dtsep":
                self.next()
                d = self.next()
                dt = d[1] if d[0] == "iri" else self.expand(d[1])
            return Lit(t[1], dt)
        if t[0] == "num":
            v = t[1]
            return Lit(float(v) if ("." in v or "e" in v.lower()) else int(v))
        raise ValueError(f"unexpected term token {t}")

    def triples(self, g: Group):
        if self.peek() == ("punct", "["):
            # BlankNodePropertyList subject: `[ p o ; … ] p2 o2 .` — the
            # trailing predicate list is optional (Turtle/SPARQL grammar)
            s = self._bnode_prop_list(g)
            if self.peek() in (("punct", "."), ("punct", "}")):
                return
        else:
            s = self.term()
        self._pred_obj_list(s, g)

    def _bnode_prop_list(self, g: Group) -> Var:
        """``[ p o ; … ]`` — anonymous blank node: a fresh existential
        variable carrying its own predicate-object list (``[]`` alone is
        the bare anonymous node)."""
        self.expect("punct", "[")
        self._fresh += 1
        v = Var(f"__bn{self._fresh}")
        if self.peek() != ("punct", "]"):
            self._pred_obj_list(v, g)
        self.expect("punct", "]")
        return v

    def _pred_obj_list(self, s, g: Group):
        while True:
            p = self.path()
            while True:
                if self.peek() == ("punct", "("):
                    # RDF collection object — spatial PF argument list
                    self.next()
                    items = []
                    while self.peek() != ("punct", ")"):
                        items.append(self.term())
                    self.next()
                    o = Coll(items)
                elif self.peek() == ("punct", "["):
                    o = self._bnode_prop_list(g)
                else:
                    o = self.term()
                self._expand_path(s, p, o, g)
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            if self.peek() == ("punct", ";"):
                self.next()
                if self.peek() in (("punct", "."), ("punct", "}"), ("punct", "]")):
                    break
                continue
            break

    # -- property-path grammar (SPARQL 1.1 §9: | / ^ ? * + and grouping)
    def path(self):
        if self.peek()[0] == "var":  # variable predicate: whole-path only
            return Var(self.next()[1][1:])
        parts = [self.path_seq()]
        while self.peek() == ("op", "|"):
            self.next()
            parts.append(self.path_seq())
        return PathAlt(parts) if len(parts) > 1 else parts[0]

    def path_seq(self):
        parts = [self.path_elt()]
        while self.peek() == ("op", "/"):
            self.next()
            parts.append(self.path_elt())
        return PathSeq(parts) if len(parts) > 1 else parts[0]

    def path_elt(self):
        inv = False
        if self.peek() == ("op", "^"):
            self.next()
            inv = True
        t = self.peek()
        if t == ("punct", "("):
            self.next()
            p = self.path()
            self.expect("punct", ")")
        elif t == ("op", "!"):
            self.next()
            p = self._nps()
        elif t[0] == "iri":
            p = Iri(self.next()[1])
        elif t[0] == "pname":
            p = Iri(self.expand(self.next()[1]))
        elif t == ("word", "a"):
            self.next()
            p = Iri(RDF_TYPE)
        else:
            raise ValueError(f"unexpected path token {t}")
        m = self.peek()
        if m[0] == "op" and m[1] in ("?", "*", "+"):
            self.next()
            p = PathMod(p, m[1])
        return PathInv(p) if inv else p

    def _nps(self) -> "PathNPS":
        """After ``!``: PathNegatedPropertySet — one PathOneInPropertySet
        or a parenthesized ``|`` list of them (each ``iri | a | ^iri``)."""
        fwd, invm = [], []

        def one():
            neg = self.peek() == ("op", "^")
            if neg:
                self.next()
            tt = self.peek()
            if tt[0] == "iri":
                iri = self.next()[1]
            elif tt[0] == "pname":
                iri = self.expand(self.next()[1])
            elif tt == ("word", "a"):
                self.next()
                iri = RDF_TYPE
            else:
                raise ValueError(f"unexpected token in !(…) property set: {tt}")
            (invm if neg else fwd).append(iri)

        if self.peek() == ("punct", "("):
            self.next()
            if self.peek() != ("punct", ")"):
                one()
                while self.peek() == ("op", "|"):
                    self.next()
                    one()
            self.expect("punct", ")")
        else:
            one()
        return PathNPS(tuple(fwd), tuple(invm))

    def _expand_path(self, s, p, o, g: Group):
        """Desugar a path triple: ^ swaps endpoints, / chains through
        fresh variables, | becomes a UNION of branches; ? * + stay as a
        PathClosure item for the reachability compiler."""
        if isinstance(p, (Iri, Var)):
            g.items.append(Triple(s, p, o))
        elif isinstance(p, PathInv):
            self._expand_path(o, p.path, s, g)
        elif isinstance(p, PathSeq):
            if _contains_zero_mod(p):
                # r6 fix (found by the path fuzzer, latent since the path
                # compiler landed): chaining a zero-admitting step through
                # a fresh variable is WRONG for terms outside the graph —
                # the middle closure's var-var zero-length identity domain
                # is the graph's terms (W3C §18.4), so a bound endpoint
                # x ∉ terms(G) can never chain x→x (empty graph,
                # <x> p?/p? ?o must yield x; the desugared form yielded
                # nothing).  Evaluate the WHOLE sequence as one bag
                # relation (_path_rel's (R⊎aI)∘(Q⊎bI) algebra is exact)
                # and add the identity, endpoint-aware, once per way the
                # sequence admits zero end-to-end.
                g.items.append(PathClosure(s, p, o, "seq"))
            else:
                cur = s
                for i, part in enumerate(p.parts):
                    nxt = o if i == len(p.parts) - 1 else Var(self._freshvar())
                    self._expand_path(cur, part, nxt, g)
                    cur = nxt
        elif isinstance(p, PathAlt):
            branches = []
            for part in p.parts:
                bg = Group()
                self._expand_path(s, part, o, bg)
                branches.append(bg)
            g.items.append(Union(branches))
        elif isinstance(p, PathMod):
            try:
                edges = _atomic_edges(p.path)
            except NotImplementedError:
                # nested modifier inside the closure body — no fixed edge
                # LIST, but the body still denotes a fixed RELATION; keep
                # the AST and evaluate it recursively (_path_relation)
                edges = p.path
            g.items.append(PathClosure(s, edges, o, p.mod))
        elif isinstance(p, PathNPS):
            # !(F|^I) ≡ NPS(F) UNION ^NPS(I): each branch is a fresh
            # variable-predicate triple (the backends enumerate actual
            # (p, o) pairs) plus a term-inequality FILTER per excluded IRI
            def nps_group(subj, excluded, obj) -> Group:
                bg = Group()
                pv = Var(self._freshvar())
                bg.items.append(Triple(subj, pv, obj))
                cond = None
                for iri in excluded:
                    c = Op2("!=", pv, Iri(iri))
                    cond = c if cond is None else Op2("&&", cond, c)
                if cond is not None:
                    bg.items.append(Filter(cond))
                return bg

            branches = []
            if p.fwd or not p.inv:  # !() matches every forward triple
                branches.append(nps_group(s, p.fwd, o))
            if p.inv:
                branches.append(nps_group(o, p.inv, s))
            if len(branches) == 1:
                g.items.extend(branches[0].items)
            else:
                g.items.append(Union(branches))
        else:
            raise ValueError(f"unsupported path {p!r}")

    # -- expressions (precedence climbing)
    def expr(self):
        return self._or()

    def _or(self):
        e = self._and()
        while self.peek() == ("op", "||"):
            self.next()
            e = Op2("||", e, self._and())
        return e

    def _and(self):
        e = self._cmp()
        while self.peek() == ("op", "&&"):
            self.next()
            e = Op2("&&", e, self._cmp())
        return e

    def _cmp(self):
        e = self._add()
        t = self.peek()
        if t[0] == "op" and t[1] in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            return Op2(t[1], e, self._add())
        if t[0] == "word" and t[1].upper() in ("IN", "NOT"):
            # §17.4.1.9/10: `e IN (e1, …)` ≡ `e = e1 || …` (empty list =
            # false); NOT IN negates — the =/|| desugar reproduces the
            # spec's error propagation through Kleene logic exactly
            negated = t[1].upper() == "NOT"
            self.next()
            if negated and not self.kw("IN"):
                raise ValueError("expected IN after NOT in expression")
            self.expect("punct", "(")
            items = []
            if self.peek() != ("punct", ")"):
                items.append(self.expr())
                while self.peek() == ("punct", ","):
                    self.next()
                    items.append(self.expr())
            self.expect("punct", ")")
            out = None
            for it in items:
                c = Op2("=", e, it)
                out = c if out is None else Op2("||", out, c)
            if out is None:
                out = Lit(False, "http://www.w3.org/2001/XMLSchema#boolean")
            return Op1("!", out) if negated else out
        return e

    def _add(self):
        e = self._mul()
        while self.peek()[0] == "op" and self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            e = Op2(op, e, self._mul())
        return e

    def _mul(self):
        e = self._unary()
        while self.peek()[0] == "op" and self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            e = Op2(op, e, self._unary())
        return e

    def _unary(self):
        t = self.peek()
        if t == ("op", "!"):
            self.next()
            return Op1("!", self._unary())
        if t == ("op", "-"):
            self.next()
            return Op1("-", self._unary())
        return self._primary()

    def _primary(self):
        t = self.peek()
        if t == ("punct", "("):
            self.next()
            e = self.expr()
            self.expect("punct", ")")
            return e
        if t[0] == "var":
            self.next()
            return Var(t[1][1:])
        if t[0] == "num":
            self.next()
            v = t[1]
            return Lit(float(v) if ("." in v or "e" in v.lower()) else int(v))
        if t[0] == "str":
            self.next()
            dt = None
            if self.peek()[0] == "dtsep":
                self.next()
                d = self.next()
                dt = d[1] if d[0] == "iri" else self.expand(d[1])
            return Lit(t[1], dt)
        if t[0] in ("pname", "iri", "word"):
            self.next()
            iri = (
                t[1]
                if t[0] == "iri"
                else (self.expand(t[1]) if t[0] == "pname" else "builtin:" + t[1].upper())
            )
            if t[0] in ("pname", "iri") and self.peek() != ("punct", "("):
                return Iri(iri)  # bare IRI term, e.g. FILTER(?x = ex:d)
            self.expect("punct", "(")
            distinct = False
            if self.peek()[0] == "word" and self.peek()[1].upper() == "DISTINCT":
                self.next()
                distinct = True
            args = []
            if self.peek() == ("op", "*"):  # COUNT(*)
                self.next()
            elif self.peek() != ("punct", ")"):
                args.append(self.expr())
                while self.peek() == ("punct", ","):
                    self.next()
                    args.append(self.expr())
                if self.peek() == ("punct", ";"):  # GROUP_CONCAT(?x; SEPARATOR="…")
                    self.next()
                    w = self.expect("word")
                    if w[1].upper() != "SEPARATOR":
                        raise ValueError(f"expected SEPARATOR, got {w}")
                    self.expect("op", "=")
                    args.append(Lit(self.expect("str")[1]))
            self.expect("punct", ")")
            return Func(iri, args, distinct)
        raise ValueError(f"unexpected expression token {t}")


def _collect_var_names(node) -> set:
    """Every ``Var`` name reachable in an AST subtree (generic dataclass
    walk) — used for the §19.6 template/pattern bnode-label scope check."""
    out: set = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, Var):
            out.add(n.name)
        elif isinstance(n, (list, tuple)):
            stack.extend(n)
        elif hasattr(n, "__dataclass_fields__"):
            stack.extend(getattr(n, f) for f in n.__dataclass_fields__)
    return out


def _internal_var(name: str) -> bool:
    """Fresh variables the parser's desugars introduce — path-chain
    middles (``__pN``) and blank-node existentials (``__bn*``).  They
    join and filter like variables but are NOT in-scope user variables,
    so ``SELECT *`` must not project them (§18.2.1; blank nodes in a
    pattern are non-projectable existentials).  The ``__`` prefix is
    reserved: a user variable literally named ``?__p1``/``?__bn1``
    would collide."""
    return bool(re.match(r"__p\d+$", name)) or name.startswith("__bn")


def _contains_zero_mod(p) -> bool:
    """True when the path AST contains a zero-admitting modifier (?/*)
    anywhere — the shapes whose zero-length identity domain makes
    fresh-variable sequence chaining unsound (see _expand_path)."""
    if isinstance(p, PathMod):
        return p.mod in ("?", "*") or _contains_zero_mod(p.path)
    if isinstance(p, (PathSeq, PathAlt)):
        return any(_contains_zero_mod(x) for x in p.parts)
    if isinstance(p, PathInv):
        return _contains_zero_mod(p.path)
    return False


def _invert_steps(steps: list) -> list:
    """Inverse of a step sequence: reverse the order, invert each step."""
    return [(pred, not iv) for pred, iv in reversed(steps)]


def _atomic_edges(p) -> list:
    """Flatten the body of a closure mod into a list of ALTERNATIVES,
    each a sequence of (pred_iri, inverted) steps.

    Flattening works for predicates, inverses, alternatives and
    sequences of those — every shape with a fixed edge LIST (a
    sequence's edge relation is the relational composition of its
    steps).  Nested mods inside ? * + raise here and the caller keeps
    the path AST instead; _path_relation evaluates it recursively."""
    if isinstance(p, Iri):
        alts = [[(p.iri, False)]]
    elif isinstance(p, PathInv):
        alts = [_invert_steps(s) for s in _atomic_edges(p.path)]
    elif isinstance(p, PathAlt):
        alts = [s for part in p.parts for s in _atomic_edges(part)]
    elif isinstance(p, PathSeq):
        alts = [[]]
        for part in p.parts:
            palts = _atomic_edges(part)
            alts = [a + b for a in alts for b in palts]
    else:
        raise NotImplementedError(
            "property-path closure (? * +) supports predicates, inverses, "
            "alternatives and sequences of those; nested mods and negated "
            "property sets are not a fixed edge relation"
        )
    return alts


def parse_query(text: str) -> Query:
    return _Parser(text).parse()


# ------------------------------------------------------------------ backends --


@dataclass
class PropSpec:
    """One predicate of a :class:`PropertyTable`.

    kind: 'plain' (scalar), 'wkt' (geometry WKT string), 'wkt_point'
    (point WKT with materialized lon/lat columns — enables the
    spatial-join rewrite), 'wkt_polygon' (dim-scale polygon side of the
    rewrite)."""

    col: str
    kind: str = "plain"
    lon: str | None = None
    lat: str | None = None


class PropertyTable:
    """Wide-table SPARQL backend: subject = ``prefix + id_col``, each
    declared predicate is a column.  Star BGPs compile to one scan."""

    def __init__(
        self,
        df: DataFrame,
        id_col: str,
        props: dict[str, PropSpec],
        subject_prefix: str = "urn:row:",
        type_iri: str | None = None,
    ):
        self.df = df
        self.id_col = id_col
        self.props = props
        self.subject_prefix = subject_prefix
        self.type_iri = type_iri

    def star_frame(self, patterns: list[Triple], subj_var: str | None):
        """One scan covering all patterns of a subject star.

        Returns (frame, bindings var->column-name, geomkinds var->kind).
        """
        df = self.df
        cols, binds, kinds = [], {}, {}

        def bind_or_equate(var: str, colexpr, kind: str) -> None:
            # a variable repeated within one star is an implicit equality
            # constraint, not a rebinding (SPARQL join semantics) — the
            # first occurrence binds, later ones filter
            nonlocal df
            if var in binds:
                df = df.filter(F.col(binds[var]) == colexpr)
                return
            cname = f"__v_{var}"
            df = df.withColumn(cname, colexpr)
            cols.append(cname)
            binds[var] = cname
            kinds[var] = kind

        subj_const = next(
            (t.s.iri for t in patterns if isinstance(t.s, Iri)), None
        )
        if subj_const is not None:
            if subj_const.startswith(self.subject_prefix):
                df = df.filter(
                    F.col(self.id_col).cast("string")
                    == subj_const[len(self.subject_prefix):]
                )
            else:
                df = df.filter(F.lit(False))
        if subj_var is not None:
            bind_or_equate(
                subj_var,
                F.concat(F.lit(self.subject_prefix), F.col(self.id_col).cast("string")),
                "plain",
            )
        n_pred_vars = 0
        for t in patterns:
            if isinstance(t.p, Var):
                # variable predicate over a wide table: explode the row to
                # its (predicate, object) pairs (vertical view of the star).
                # Each variable-predicate triple gets its OWN explode column
                # (SPARQL semantics: `?s ?p1 ?o1 ; ?p2 ?o2` is the cross
                # product of property pairs per subject; a REPEATED predicate
                # variable still collapses to equality via bind_or_equate).
                pair_col = f"__pair_{n_pred_vars}"
                n_pred_vars += 1
                pairs = [
                    F.struct(
                        F.lit(p).alias("p"), F.col(spec.col).cast("string").alias("o")
                    )
                    for p, spec in self.props.items()
                ]
                if self.type_iri is not None:
                    pairs.append(
                        F.struct(
                            F.lit(RDF_TYPE).alias("p"),
                            F.lit(self.type_iri).alias("o"),
                        )
                    )
                pair = F.explode(F.array(*pairs))
                df = df.withColumn(pair_col, pair).where(
                    F.col(f"{pair_col}.o").isNotNull()
                )
                bind_or_equate(t.p.name, F.col(f"{pair_col}.p"), "plain")
                if isinstance(t.o, Var):
                    bind_or_equate(t.o.name, F.col(f"{pair_col}.o"), "plain")
                else:
                    val = t.o.value if isinstance(t.o, Lit) else t.o.iri
                    df = df.where(F.col(f"{pair_col}.o") == str(val))
                continue
            pred = t.p.iri
            if pred == RDF_TYPE:
                if isinstance(t.o, Iri):
                    if self.type_iri is not None and t.o.iri != self.type_iri:
                        df = df.filter(F.lit(False))
                elif isinstance(t.o, Var):
                    bind_or_equate(t.o.name, F.lit(self.type_iri), "plain")
                continue
            if pred not in self.props:
                raise KeyError(f"predicate {pred} not declared on this PropertyTable")
            spec = self.props[pred]
            if isinstance(t.o, Var):
                # a triple pattern only matches when the property EXISTS on
                # the row (SPARQL semantics): a NULL cell is an absent
                # triple, not a bindable value (OPTIONAL re-admits misses
                # via the left join one level up)
                df = df.where(F.col(spec.col).isNotNull())
                already = t.o.name in binds
                kind = spec.kind
                if kind == "plain":
                    # terms are stored as lexical strings engine-wide, but
                    # the SOURCE column type is the literal's datatype —
                    # carry it as the binding kind so boolean-context EBV
                    # and value comparisons use typed semantics
                    from pyspark.sql import types as T

                    sdt = self.df.schema[spec.col].dataType
                    if isinstance(sdt, T.NumericType):
                        kind = "num"
                    elif isinstance(sdt, T.BooleanType):
                        kind = "bool"
                bind_or_equate(t.o.name, F.col(spec.col).cast("string"), kind)
                if already:
                    continue
                if spec.kind == "wkt_point" and spec.lon and spec.lat:
                    df = df.withColumn(f"__lon_{t.o.name}", F.col(spec.lon)).withColumn(
                        f"__lat_{t.o.name}", F.col(spec.lat)
                    )
                    cols += [f"__lon_{t.o.name}", f"__lat_{t.o.name}"]
            else:
                val = t.o.value if isinstance(t.o, Lit) else t.o.iri
                df = df.filter(F.col(spec.col).cast("string") == str(val))
        return df.select(*cols), binds, kinds

    def nodes_frame(self) -> DataFrame:
        """All graph terms (subjects + declared-property objects) as one
        string column ``n`` — the zero-length-path identity domain."""
        parts = [
            self.df.select(
                F.concat(
                    F.lit(self.subject_prefix), F.col(self.id_col).cast("string")
                ).alias("n")
            )
        ]
        for spec in self.props.values():
            parts.append(self.df.select(F.col(spec.col).cast("string").alias("n")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.where(F.col("n").isNotNull()).distinct()


#: xsd datatype local names whose literals compare (and EBV-coerce) as
#: numbers (XPath numeric promotion hierarchy)
_XSD_NUMERIC_LOCALS = {
    "integer", "int", "long", "short", "byte", "decimal", "double", "float",
    "negativeinteger", "nonnegativeinteger", "positiveinteger",
    "nonpositiveinteger", "unsignedlong", "unsignedint", "unsignedshort",
    "unsignedbyte",
}


class TriplesModel:
    """Distributed (s, p, o, dt) frame backend (vertical partitioning).

    Each pattern scans ``p == <pred>`` (predicate pushdown prunes at the
    parquet/filter level); star patterns equi-join on ``s``."""

    def __init__(self, df: DataFrame):
        self.df = df
        self._dt_cache: dict[str, str | None] = {}

    def predicate_dt(self, pred: str) -> str | None:
        """Datatype of a predicate's literals (dim-scale model lookup,
        memoized) — drives geometry/numeric typing of bound variables.
        MIN over the dt column, not ``.first()``: the sampled row of a
        distributed frame is partition-layout-dependent, and the kind it
        yields now decides comparison/EBV semantics, so it must be
        deterministic (min also prefers a declared datatype over the
        NULL dt of plain literals on mixed predicates)."""
        if pred not in self._dt_cache:
            row = self.df.filter(F.col("p") == pred).agg(F.min("dt")).first()
            self._dt_cache[pred] = row[0] if row else None
        return self._dt_cache[pred]

    def star_frame(self, patterns: list[Triple], subj_var: str | None):
        frames = []
        subj_const = None
        for t in patterns:
            if isinstance(t.s, Iri):
                subj_const = t.s.iri
        out_binds, out_kinds = {}, {}
        equalities: list[tuple[str, str]] = []  # (var, per-pattern column)

        def out_col(name: str, kind: str) -> str:
            # a variable repeated across (or within) the star's patterns
            # is an implicit equality join, not a rebinding: later
            # occurrences land in a per-occurrence column equated (and
            # dropped) after the subject join.  The name carries a running
            # counter, not the pattern index — `?a ?a ?a` repeats a
            # variable TWICE inside one pattern (fuzz-found collision)
            if name in out_binds:
                c = f"__eq{len(equalities)}_{name}"
                equalities.append((name, c))
                return c
            c = f"__v_{name}"
            out_binds[name] = c
            out_kinds[name] = kind
            return c

        for t in patterns:
            sel = [F.col("s").alias("__s")]
            if isinstance(t.p, Var):
                # variable predicate: unfiltered scan, bind p
                sc = self.df
                sel.append(F.col("p").alias(out_col(t.p.name, "plain")))
                pred = None
            else:
                pred = t.p.iri
                sc = self.df.filter(F.col("p") == pred)
            if subj_const is not None:
                sc = sc.filter(F.col("s") == subj_const)
            if isinstance(t.o, Var):
                dt = self.predicate_dt(pred) if pred is not None else None
                kind = "plain"
                if dt is not None:
                    local = dt.lower().rsplit("#", 1)[-1]
                    if local.endswith("wktliteral"):
                        kind = "wkt"
                    elif local in _XSD_NUMERIC_LOCALS:
                        kind = "num"
                    elif local == "boolean":
                        kind = "bool"
                sel.append(F.col("o").alias(out_col(t.o.name, kind)))
            else:
                val = t.o.value if isinstance(t.o, Lit) else t.o.iri
                sc = sc.filter(F.col("o") == str(val))
            frames.append(sc.select(*sel))
        df = frames[0]
        for f in frames[1:]:
            df = df.join(f, on="__s", how="inner")
        if subj_var is not None and subj_var in out_binds:
            # subject variable also bound as a predicate/object: equality
            equalities.append((subj_var, "__s"))
        for var, c in equalities:
            df = df.filter(F.col(out_binds[var]) == F.col(c)).drop(c)
        cols = []
        if subj_var is not None and subj_var not in out_binds:
            df = df.withColumnRenamed("__s", f"__v_{subj_var}")
            out_binds[subj_var] = f"__v_{subj_var}"
            out_kinds[subj_var] = "plain"
            cols.append(f"__v_{subj_var}")
        cols += [c for c in df.columns if c.startswith("__v_") and c not in cols]
        return df.select(*cols), out_binds, out_kinds

    def nodes_frame(self) -> DataFrame:
        return (
            self.df.select(F.col("s").alias("n"))
            .unionByName(self.df.select(F.col("o").alias("n")))
            .where(F.col("n").isNotNull())
            .distinct()
        )


class UnionModel:
    """Multiple backends behaving as one RDF model.

    Each subject-star is routed to the backends that can satisfy it: a
    :class:`PropertyTable` qualifies when it declares every non-type
    predicate of the star AND any constant ``rdf:type`` matches its
    ``type_iri`` (the static pruning a SPARQL engine gets from typed
    BGPs); a :class:`TriplesModel` always qualifies.  One qualifying
    backend → delegate (kinds stay precise, rewrites stay available);
    several → union of the per-backend star frames (RDF merge
    semantics), geometry kinds reconciled downward."""

    def __init__(self, backends: list):
        self.backends = backends

    @staticmethod
    def _qualifies(b, patterns: list[Triple]) -> bool:
        if isinstance(b, TriplesModel):
            return True
        for t in patterns:
            if isinstance(t.p, Var):
                continue  # a wide table can enumerate its predicates
            if t.p.iri == RDF_TYPE:
                if isinstance(t.o, Iri) and b.type_iri is not None and t.o.iri != b.type_iri:
                    return False
                continue
            if t.p.iri not in b.props:
                return False
        return True

    def star_frame(self, patterns: list[Triple], subj_var: str | None):
        cands = [b for b in self.backends if self._qualifies(b, patterns)]
        if not cands:
            preds = [
                t.p.iri if isinstance(t.p, Iri) else f"?{t.p.name}" for t in patterns
            ]
            raise KeyError(f"no backend satisfies star predicates {preds}")
        if len(cands) == 1:
            return cands[0].star_frame(patterns, subj_var)
        parts = [b.star_frame(patterns, subj_var) for b in cands]
        frame = parts[0][0]
        for f, _, _ in parts[1:]:
            frame = frame.unionByName(f, allowMissingColumns=True)
        binds = {}
        kinds = {}
        for _, b, k in parts:
            binds.update(b)
            for v, kk in k.items():
                prev = kinds.get(v)
                if prev is None or prev == kk:
                    kinds[v] = kk
                else:
                    kinds[v] = (
                        "wkt" if prev.startswith("wkt") and kk.startswith("wkt") else "plain"
                    )
        return frame, binds, kinds

    def nodes_frame(self) -> DataFrame:
        out = self.backends[0].nodes_frame()
        for b in self.backends[1:]:
            out = out.unionByName(b.nodes_frame())
        return out.distinct()


# -------------------------------------------------------- expression compile --

# sample-frame argspec token → expected input kind (registry.sample_frame)
_WKB_TOKENS = {
    "g", "g2", "ghole", "gtri", "gpt", "gpt2", "gpt3", "gline", "gline2",
    "glinec", "glx", "glm", "glm2", "glz", "glz2", "gmp", "gmline",
    "gmpoly", "gcoll", "gring",
}
_WKT_TOKENS = {"wkt_point", "wkt_line", "wkt_poly", "wkt_mpoint", "wkt_mline", "wkt_mpoly"}

_GEO_PREDICATES = {
    # filter functions the spatial rewrite recognizes: fn(point, polygon)
    # (or flipped for *contains) — PIP (interior) semantics, matching the
    # cover join's oracle-gated refine.  Intersects is deliberately NOT
    # here: it is boundary-inclusive (vector.py st_intersects uses
    # distance == 0) while the PIP refine is even-odd interior, so a
    # point exactly on a zone edge would silently differ between the
    # rewritten and fallback paths; intersects keeps the exact
    # cross+filter plan.
    "st_within": False,
    "st_contains": True,  # contains(polygon, point): point arg is #2
    "sfwithin": False,
    "sfcontains": True,
}


def _term_str(t) -> str:
    """Lexical form of a constant term (the s/p/o string representation
    the triple frames store)."""
    return str(t.value) if isinstance(t, Lit) else t.iri


def _registry_name(iri: str) -> str:
    local = iri.rsplit("#", 1)[-1].rsplit("/", 1)[-1]
    return local.lower()


class _ExprCompiler:
    """AST expression → (Column, kind); kind ∈ {'plain','wkt','geom'}.

    ``frame`` (when the call site has one — all executor sites do) lets
    boolean-context coercion introspect the analyzed column type for the
    §17.2.2 effective-boolean-value rules."""

    def __init__(
        self, binds: dict[str, str], kinds: dict[str, str], frame=None
    ):
        self.binds = binds
        self.kinds = kinds
        self.frame = frame

    def var_col(self, name: str) -> F.Column:
        if name not in self.binds:
            raise KeyError(f"unbound variable ?{name}")
        return F.col(self.binds[name])

    def ebv(self, e) -> F.Column:
        """§17.2.2 effective boolean value — the coercion FILTER, IF,
        ``!``, ``&&`` and ``||`` apply to their operands (ARQ inherits it
        from the XPath fn:boolean rules).  Booleans pass through; strings
        (plain literals in this engine's term storage) are true iff
        non-empty — note EBV of the plain literal ``"false"`` is TRUE;
        numerics are true unless 0 or NaN; any other type is a type
        error, compiled as NULL (FILTER eliminates the row, IF/BIND
        surface unbound).  NULL operands (unbound variables = evaluation
        errors) stay NULL throughout, with ONE exception (§17.2.2 rule
        1): a typed numeric/boolean literal whose LEXICAL FORM is
        ill-formed has EBV *false*, not error — only a genuinely unbound
        variable is an error."""
        if isinstance(e, Var):
            # the binding kind carries the literal's datatype even though
            # the column itself stores the lexical string
            k = self.kinds.get(e.name)
            if k == "num":
                raw = self.var_col(e.name)
                col = raw.try_cast("double")
                return F.when(raw.isNull(), F.lit(None).cast("boolean")).otherwise(
                    F.coalesce((col != 0) & ~F.isnan(col), F.lit(False))
                )
            if k == "bool":
                # xsd:boolean valid-true lexicals are exactly "true"/"1";
                # "false"/"0" and every ill-formed form are EBV false
                # (Spark's lenient boolean cast would accept "y"/"yes")
                raw = self.var_col(e.name)
                return F.when(raw.isNull(), F.lit(None).cast("boolean")).otherwise(
                    raw.isin("true", "1")
                )
        # structurally-boolean shapes skip the frame analysis below —
        # comparisons, logical operators, and boolean builtins cover the
        # typical FILTER, so compiling them directly avoids re-analyzing
        # a large join plan once per operand
        if (isinstance(e, Op2) and e.op not in ("+", "-", "*", "/")) or (
            isinstance(e, Op1) and e.op == "!"
        ):
            return self.compile(e)[0]
        if (
            isinstance(e, Func)
            and e.iri.startswith("builtin:")
            and e.iri[len("builtin:"):] in _BOOLEAN_BUILTINS
        ):
            return self.compile(e)[0]
        col, _ = self.compile(e)
        if self.frame is None:  # no type context: keep Spark's cast
            return col
        from pyspark.sql import types as T

        dt = self.frame.select(col.alias("x")).schema[0].dataType
        if isinstance(dt, T.BooleanType):
            return col
        if isinstance(dt, T.StringType):
            return F.length(col) > 0
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return (col != 0) & ~F.isnan(col)
        if isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)
        ):
            return col != 0
        return F.lit(None).cast("boolean")

    def compile(self, e) -> tuple[F.Column, str]:
        if isinstance(e, Var):
            k = self.kinds.get(e.name, "plain")
            return self.var_col(e.name), ("wkt" if k.startswith("wkt") else "plain")
        if isinstance(e, Lit):
            if e.dt is not None and e.dt.lower().endswith("wktliteral"):
                return F.lit(e.value), "wkt"
            return F.lit(e.value), "plain"
        if isinstance(e, Iri):
            return F.lit(e.iri), "plain"
        if isinstance(e, Op1):
            if e.op == "!":
                return ~self.ebv(e.arg), "plain"
            c, _ = self.compile(e.arg)
            if isinstance(e.arg, Lit) and isinstance(e.arg.value, (int, float)):
                return -c, "plain"
            # non-literal operand: coerce leniently — a non-numeric value
            # is a SPARQL evaluation error (NULL), not an ANSI cast crash
            return -c.try_cast("double"), "plain"
        if isinstance(e, Op2):
            if e.op in ("||", "&&"):
                # logical operators EBV-coerce each operand (§17.2.2);
                # the NULL/boolean combination table below then matches
                # SPARQL's error-tolerant Kleene logic exactly
                lc, rc = self.ebv(e.left), self.ebv(e.right)
                return ((lc | rc) if e.op == "||" else (lc & rc)), "plain"
            lc, lk = self.compile(e.left)
            rc, rk = self.compile(e.right)

            def _typed_num(x) -> bool:
                return isinstance(x, Var) and self.kinds.get(x.name) == "num"

            # value coercion is LENIENT throughout (try_cast/try_divide):
            # a lexical form that fails numeric interpretation — or a zero
            # divisor — is a SPARQL evaluation error for THAT ROW (NULL:
            # FILTER eliminates it, BIND leaves it unbound), never an
            # ANSI-mode job abort (Spark 4 defaults spark.sql.ansi.enabled
            # on, where plain cast/divide would throw per partition)
            if e.op in ("+", "-", "*", "/"):
                # SPARQL numeric operators: lexical literals promote
                if lk == "plain" and _numericish(e.left):
                    lc = lc.try_cast("double")
                if rk == "plain" and _numericish(e.right):
                    rc = rc.try_cast("double")
            elif e.op in ("<", ">", "<=", ">=", "=", "!="):
                # a side whose binding kind says xsd-numeric forces a
                # VALUE comparison on both sides (typed-literal semantics:
                # "10" < "9" must be numeric, and "05" = 5 must hold; a
                # non-numeric other side coerces to NULL = the spec's type
                # error).  Documented boundary: the value domain is IEEE
                # double, so xsd:integer values beyond 2^53 compare with
                # double precision.  Otherwise comparisons promote BOTH sides when
                # one side is numeric-forcing (numeric literal / function /
                # arithmetic) — two untyped string sides compare
                # lexicographically (casting both would null out e.g.
                # FILTER(?name < "m"))
                if (
                    _typed_num(e.left)
                    or _typed_num(e.right)
                    or (lk == "plain" and _numericish(e.left) and _numeric_forcing(e.right))
                    or (rk == "plain" and _numericish(e.right) and _numeric_forcing(e.left))
                ):
                    lc, rc = lc.try_cast("double"), rc.try_cast("double")
                    # XPath numeric comparison: NaN is unordered and
                    # unequal to everything (op:numeric-* all false, `ne`
                    # true) — Spark instead totally orders NaN above all
                    # doubles, so guard explicitly.  A NULL (error/
                    # unbound) operand must propagate NULL even when the
                    # other side is NaN, hence the explicit first arm.
                    cmp = {
                        "=": lc == rc, "!=": lc != rc, "<": lc < rc,
                        ">": lc > rc, "<=": lc <= rc, ">=": lc >= rc,
                    }[e.op]
                    return (
                        F.when(lc.isNull() | rc.isNull(), F.lit(None).cast("boolean"))
                        .when(F.isnan(lc) | F.isnan(rc), F.lit(e.op == "!="))
                        .otherwise(cmp),
                        "plain",
                    )
            return {
                "=": lambda: lc == rc,
                "!=": lambda: lc != rc,
                "<": lambda: lc < rc,
                ">": lambda: lc > rc,
                "<=": lambda: lc <= rc,
                ">=": lambda: lc >= rc,
                "+": lambda: lc + rc,
                "-": lambda: lc - rc,
                "*": lambda: lc * rc,
                "/": lambda: F.try_divide(lc, rc),
            }[e.op](), "plain"
        if isinstance(e, Func):
            return self.func(e)
        raise TypeError(f"cannot compile expression {e!r}")

    def func(self, e: Func) -> tuple[F.Column, str]:
        if e.iri == "builtin:BOUND":
            c, _ = self.compile(e.args[0])
            return c.isNotNull(), "plain"
        if e.iri == "builtin:STR":
            c, _ = self.compile(e.args[0])
            return c.cast("string"), "plain"
        if e.iri.startswith("builtin:"):
            got = self._builtin(e.iri[len("builtin:"):], e)
            if got is not None:
                return got
        if e.iri.startswith(BUILTIN_PREFIXES["xsd"]):
            cast = {"double": "double", "float": "double", "integer": "long",
                    "long": "long", "int": "int", "string": "string",
                    "boolean": "boolean"}[e.iri.rsplit("#", 1)[-1]]
            c, _ = self.compile(e.args[0])
            return c.try_cast(cast), "plain"
        name = _registry_name(e.iri)
        name = _SF_FUNC.get(name, name)
        if e.iri.startswith(SPATIALF_NS):
            got = self._spatialf(name, e)
            if got is not None:
                return got
        if e.iri.startswith(BUILTIN_PREFIXES["geof"]):
            name = _GEOF_ALIAS.get(name, name)
            if "geof_" + name in REG.REGISTRY:
                name = "geof_" + name
            got = self._geof(name, e)
            if got is not None:
                return got
        if name not in REG.REGISTRY:
            raise KeyError(f"function {e.iri} not in the registry")
        fn, argspec = REG.REGISTRY[name]
        cols = []
        for i, a in enumerate(e.args):
            tok = argspec[i] if i < len(argspec) else None
            if isinstance(tok, tuple) and tok[0] == "pylit":
                if not isinstance(a, Lit):
                    raise ValueError(f"{name}: argument {i} must be a literal")
                cols.append(a.value)
                continue
            c, k = self.compile(a)
            want_wkb = isinstance(tok, str) and tok in _WKB_TOKENS
            want_wkt = isinstance(tok, str) and tok in _WKT_TOKENS
            if want_wkb and k == "wkt":
                c = REG.REGISTRY["st_geomfromtext"][0](c)
            elif want_wkt and k == "geom":
                c = REG.REGISTRY["st_astext"][0](c)
            cols.append(c)
        out = fn(*cols)
        # geometry-returning functions yield WKB binary columns
        return out, "geom"

    @staticmethod
    def _uom(arg) -> tuple[str, float | None]:
        """OGC uom IRI (or its plain-string form) → (unit key, metres per
        unit).  ``degree``/``radian`` are the angular units (GeoSPARQL's
        planar path); metre-family keys come from ``_SPATIAL_UNITS``."""
        if isinstance(arg, Iri):
            key = arg.iri
        elif isinstance(arg, Lit):
            key = str(arg.value)
        else:
            raise NotImplementedError(
                "geof units argument must be an IRI or string literal"
            )
        key = re.split(r"[/#]", key)[-1].lower()
        if key == "radian":
            return "radian", None
        if key not in _SPATIAL_UNITS:
            raise NotImplementedError(f"geof unit {key!r}")
        return _SPATIAL_UNITS[key]

    def _geof(self, name: str, e: Func):
        """GeoSPARQL filter functions the reference's SPARQL entry point
        gets from geosparql-jena's FunctionRegistry but whose names are
        absent from the SQL registry (``PostGISConfig.java`` registers
        the sf* family + ``geof:distance`` there and nothing else from
        §8-10): Egenhofer/RCC8 relations, 3-arg ``geof:relate``,
        ``geof:buffer``/``envelope``/``difference`` (with uom
        conversion), ``geof:getSRID``, and the units-IRI form of
        ``geof:distance``.  Returns None when the plain registry path
        already serves the name."""
        from .functions import relate as REL
        from .functions import transforms2 as T2
        from .functions import vector as V

        args = e.args

        def geom(i):
            c, k = self.compile(args[i])
            if k != "geom":
                c = REG.REGISTRY["st_geomfromtext"][0](c.cast("string"))
            return c

        if name in _EH_RCC8:
            return (
                REL.st_relate_match(geom(0), geom(1), F.lit(_EH_RCC8[name])),
                "plain",
            )
        if name == "ehmeet":
            return REG.REGISTRY["st_touches"][0](geom(0), geom(1)), "plain"
        if name == "relate" and len(args) == 3:
            # geof:relate(g1, g2, "DE-9IM pattern") → boolean; the 2-arg
            # matrix form falls through to the registry's st_relate
            pat = self.compile(args[2])[0].cast("string")
            return REL.st_relate_match(geom(0), geom(1), pat), "plain"
        if name == "envelope":
            return V.st_envelope(geom(0)), "geom"
        if name == "difference":
            return V.st_difference(geom(0), geom(1)), "geom"
        if name == "buffer":
            if len(args) != 3:
                raise NotImplementedError(
                    "geof:buffer takes (geom, radius, unitsIRI)"
                )
            unit, m_per = self._uom(args[2])
            dist = self.compile(args[1])[0].try_cast("double")
            # CRS84 data: angular radii pass through, linear radii convert
            # on the mean-radius sphere (same convention as the spatial:*
            # property functions and geof:distance's geographic dispatch)
            if unit == "radian":
                dist = dist * F.lit(180.0 / math.pi)
            elif unit != "degree":
                dist = dist * F.lit(m_per / _M_PER_DEG)
            return T2.st_buffer(geom(0), dist), "geom"
        if name == "getsrid":
            # PropertyTable WKT carries no <srsURI> prefix → the
            # GeoSPARQL default CRS (OGC 11-052r4 req 10)
            return (
                F.lit("http://www.opengis.net/def/crs/OGC/1.3/CRS84"),
                "plain",
            )
        if (
            name == "geof_distance"
            and len(args) == 3
            and isinstance(args[2], (Iri, Lit))
            and not (
                isinstance(args[2], Lit)
                and isinstance(args[2].value, (int, float))
            )
        ):
            # units-IRI third argument (the geosparql-jena signature);
            # a numeric literal keeps the registry's SRID-dispatch form
            unit, m_per = self._uom(args[2])
            if unit in ("degree", "radian"):
                planar = REG.REGISTRY["st_distance"][0](geom(0), geom(1))
                if unit == "radian":
                    planar = planar * F.lit(math.pi / 180.0)
                return planar, "plain"
            metres = REG.REGISTRY["geof_distance"][0](
                geom(0), geom(1), F.lit(4326)
            )
            return metres / F.lit(m_per), "plain"
        return None

    def _spatialf(self, name: str, e: Func):
        """jena-spatial filter functions (``spatialF:`` —
        ``http://jena.apache.org/function/spatial#``), the second function
        library ``GeoSPARQLConfig.setupMemoryIndex()`` registers in the
        reference (PostGISConfig.java:812).  Coordinate-pair functions
        take Jena's (lat, lon) argument order; geometry distances reuse
        the SRID-keyed dispatch (vertex-pair spherical Vincenty on the
        geographic branch); radius/distance units default to kilometres
        (geosparql-jena's spatial default).  Returns None for unknown
        names (→ precise registry KeyError downstream)."""
        from .functions import transform as TRF

        args = e.args
        two_pi = 2.0 * math.pi

        def num(i):
            return self.compile(args[i])[0].try_cast("double")

        def snum(i):
            return num(i).cast("string")

        def geom(i):
            c, k = self.compile(args[i])
            if k != "geom":
                c = REG.REGISTRY["st_geomfromtext"][0](c.cast("string"))
            return c

        def m_per(i, default=1000.0):
            if i >= len(args):
                return default
            unit, per = self._uom(args[i])
            if per is None:
                raise NotImplementedError(
                    f"spatialF:{name} needs a linear unit"
                )
            return per

        if name == "equals" and len(args) == 2:
            return REG.REGISTRY["st_equals"][0](geom(0), geom(1)), "plain"
        if name == "convertlatlon":
            return (
                F.concat(
                    F.lit("POINT ("), snum(1), F.lit(" "), snum(0), F.lit(")")
                ),
                "wkt",
            )
        if name == "convertlatlonbox":
            la0, lo0, la1, lo1 = snum(0), snum(1), snum(2), snum(3)
            return (
                F.concat(
                    F.lit("POLYGON (("),
                    lo0, F.lit(" "), la0, F.lit(", "),
                    lo1, F.lit(" "), la0, F.lit(", "),
                    lo1, F.lit(" "), la1, F.lit(", "),
                    lo0, F.lit(" "), la1, F.lit(", "),
                    lo0, F.lit(" "), la0,
                    F.lit("))"),
                ),
                "wkt",
            )
        if name in ("azimuth", "azimuthdeg"):
            # (lat1, lon1, lat2, lon2) → great-circle forward azimuth,
            # clockwise from north in [0, 2π)
            az = TRF.st_azimuth(num(1), num(0), num(3), num(2))
            return (F.degrees(az) if name == "azimuthdeg" else az), "plain"
        if name in ("angle", "angledeg"):
            # (x1, y1, x2, y2) → planar angle clockwise from the y-axis
            # (north) in [0, 2π): atan2(dx, dy), pure Catalyst
            a = F.atan2(num(2) - num(0), num(3) - num(1))
            a = F.when(a < 0, a + F.lit(two_pi)).otherwise(a)
            return (F.degrees(a) if name == "angledeg" else a), "plain"
        if name == "greatcircle":
            # (lat1, lon1, lat2, lon2, units) — spherical Vincenty
            m = TRF.st_greatcircle_m(num(1), num(0), num(3), num(2))
            return m / F.lit(m_per(4)), "plain"
        if name == "greatcirclegeom":
            m = REG.REGISTRY["geof_distance"][0](
                geom(0), geom(1), F.lit(4326)
            )
            return m / F.lit(m_per(2)), "plain"
        if name == "nearby" and 3 <= len(args) <= 4:
            m = REG.REGISTRY["geof_distance"][0](
                geom(0), geom(1), F.lit(4326)
            )
            return m / F.lit(m_per(3)) <= num(2), "plain"
        if name == "distance" and 2 <= len(args) <= 3:
            if len(args) == 3:
                got = self._geof("geof_distance", e)
                if got is not None:
                    return got
            return (
                REG.REGISTRY["geof_distance"][0](geom(0), geom(1), F.lit(4326)),
                "plain",
            )
        if name in ("transform", "transformsrs", "transformdatum"):
            # transform(geom[, datatypeURI], srsURI) — WKT literals are
            # CRS84, so the source SRS is always 4326 here; the target is
            # the trailing EPSG code of the SRS URI
            srs = args[-1]
            key = srs.iri if isinstance(srs, Iri) else str(srs.value)
            tail = re.split(r"[/#:]", key)[-1]
            srid = 4326 if tail.upper() == "CRS84" else int(tail)
            return (
                REG.REGISTRY["st_transform"][0](
                    geom(0), F.lit(4326), F.lit(srid)
                ),
                "geom",
            )
        return None

    @staticmethod
    def _regex_pattern(pat_arg, flags_arg) -> str:
        """Literal regex pattern with SPARQL flags folded in as (?ism)."""
        if not isinstance(pat_arg, Lit):
            raise NotImplementedError("regex pattern must be a literal")
        pat = str(pat_arg.value)
        if flags_arg is not None:
            if not isinstance(flags_arg, Lit):
                raise NotImplementedError("regex flags must be a literal")
            fl = "".join(ch for ch in str(flags_arg.value) if ch in "ismx")
            if fl:
                pat = f"(?{fl}){pat}"
        return pat

    def _builtin(self, name: str, e: Func):
        """SPARQL 1.1 §17.4 builtin functions (the ARQ-inherited surface
        the reference gets for free from jena-arq).  Returns None for
        names this compiler does not implement (the caller then falls
        through to the registry and raises a precise KeyError)."""
        args = e.args

        def c(i):
            return self.compile(args[i])[0]

        def s(i):
            return self.compile(args[i])[0].cast("string")

        def num(i):
            col = c(i)
            return col.try_cast("double") if _numericish(args[i]) else col

        if name == "IF":
            a, ak = self.compile(args[1])
            b, bk = self.compile(args[2])
            kind = ak if ak == bk else "plain"
            # the condition is EBV-coerced (§17.4.1.2); a condition
            # ERROR makes the whole IF an error → unbound, not the
            # else-branch, hence the explicit NULL arm
            cond = self.ebv(args[0])
            return (
                F.when(cond.isNull(), F.lit(None)).when(cond, a).otherwise(b),
                kind,
            )
        if name == "COALESCE":
            # an unbound variable is an evaluation error for its branch,
            # which COALESCE skips (§17.4.1.5) — compile it as NULL
            cols = []
            for a in args:
                try:
                    cols.append(self.compile(a)[0])
                except KeyError:
                    cols.append(F.lit(None))
            return F.coalesce(*cols), "plain"
        if name == "STRLEN":
            return F.length(s(0)), "plain"
        if name == "UCASE":
            return F.upper(s(0)), "plain"
        if name == "LCASE":
            return F.lower(s(0)), "plain"
        if name == "CONTAINS":
            return s(0).contains(s(1)), "plain"
        if name == "STRSTARTS":
            return s(0).startswith(s(1)), "plain"
        if name == "STRENDS":
            return s(0).endswith(s(1)), "plain"
        if name == "SUBSTR":
            # XPath fn:substring (§17.4.3.3): keep the characters at
            # positions p with round(start) <= p < round(start)+round(len)
            # — fn:round is floor(x+0.5).  A start below 1 CLIPS (and
            # consumes that much of the length window); it does not count
            # from the string's end, which is what Spark's substr would
            # do.  The window is computed in the double domain and
            # clamped to [1, len+1] BEFORE the int cast, so huge or
            # infinite positions yield "" (never an overflow-NULL), and
            # NaN positions make every comparison false → "".
            src = s(0)
            ln = F.length(src).cast("double")
            a = _floor_d(num(1).try_cast("double") + F.lit(0.5))
            if len(args) > 2:
                b = a + _floor_d(num(2).try_cast("double") + F.lit(0.5))
            else:
                b = ln + F.lit(1.0)
            pos = F.least(F.greatest(a, F.lit(1.0)), ln + F.lit(1.0))
            n = F.least(F.greatest(b - pos, F.lit(0.0)), ln)
            return (
                F.when(F.isnan(a) | F.isnan(b), F.lit(""))
                .otherwise(src.substr(pos.try_cast("int"), n.try_cast("int"))),
                "plain",
            )
        if name == "CONCAT":
            return F.concat(*[self.compile(a)[0].cast("string") for a in args]), "plain"
        if name == "STRBEFORE":
            t0, t1 = s(0), s(1)
            pos = F.instr(t0, t1)
            return (
                # NULL args propagate as the error — without the guard the
                # not-found otherwise("") arm would swallow them (fuzz-found)
                F.when(t0.isNull() | t1.isNull(), F.lit(None))
                .when(t1 == "", F.lit(""))
                .when(pos > 0, t0.substr(F.lit(1), pos - 1))
                .otherwise(F.lit("")),
                "plain",
            )
        if name == "STRAFTER":
            t0, t1 = s(0), s(1)
            pos = F.instr(t0, t1)
            return (
                F.when(t0.isNull() | t1.isNull(), F.lit(None))
                .when(t1 == "", t0)
                .when(pos > 0, t0.substr(pos + F.length(t1), F.length(t0)))
                .otherwise(F.lit("")),
                "plain",
            )
        if name == "REGEX":
            pat = self._regex_pattern(args[1], args[2] if len(args) > 2 else None)
            return s(0).rlike(pat), "plain"
        if name == "REPLACE":
            pat = self._regex_pattern(args[1], args[3] if len(args) > 3 else None)
            if not isinstance(args[2], Lit):
                raise NotImplementedError("REPLACE replacement must be a literal")
            return F.regexp_replace(s(0), pat, str(args[2].value)), "plain"
        if name == "ABS":
            return F.abs(num(0)), "plain"
        if name == "CEIL":
            return -_floor_d(-num(0)), "plain"
        if name == "FLOOR":
            return _floor_d(num(0)), "plain"
        if name == "ROUND":
            # fn:round ties go toward +inf (round(-2.5) = -2), unlike
            # Spark's HALF_UP (away from zero)
            return _floor_d(num(0) + F.lit(0.5)), "plain"
        if name == "ISNUMERIC":
            return c(0).try_cast("double").isNotNull(), "plain"
        if name == "MD5":
            return F.md5(s(0).cast("binary")), "plain"
        if name == "SHA1":
            return F.sha1(s(0).cast("binary")), "plain"
        if name in ("SHA256", "SHA384", "SHA512"):
            return F.sha2(s(0).cast("binary"), int(name[3:])), "plain"
        if name == "ENCODE_FOR_URI":
            # url_encode is form-encoding; fn:encode-for-uri (§17.4.2.8)
            # differs on exactly three characters: space is %20 not "+",
            # "~" is unreserved (RFC 3986) and stays literal, and "*" is
            # NOT unreserved so it must escape to %2A
            enc = F.regexp_replace(F.url_encode(s(0)), r"\+", "%20")
            enc = F.regexp_replace(enc, "%7E", "~")
            return F.regexp_replace(enc, r"\*", "%2A"), "plain"
        if name in ("YEAR", "MONTH", "DAY"):
            fn = {"YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth}[name]
            return fn(s(0).try_cast("timestamp")), "plain"
        if name in ("HOURS", "MINUTES", "SECONDS"):
            fn = {"HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second}[name]
            col = fn(s(0).try_cast("timestamp"))
            return (col.cast("double") if name == "SECONDS" else col), "plain"
        return None


def _numericish(e) -> bool:
    return isinstance(e, (Var, Func, Op2, Op1)) or (
        isinstance(e, Lit) and isinstance(e.value, (int, float))
    )


def _floor_d(col: F.Column) -> F.Column:
    """XPath fn:floor in the pure DOUBLE domain.  Spark's floor/ceil
    return LONG, which collapses NaN to 0 (fuzz-found) and would
    ANSI-overflow on huge doubles.  ``x - pmod(x, 1)`` floors any finite
    double (values >= 2^53 are already integral, pmod gives 0) and
    propagates NaN/NULL; pmod(±inf, 1) is NaN, so infinities pass
    through explicitly (fn:floor(INF) = INF)."""
    m = F.pmod(col, F.lit(1.0))
    return F.when(F.isnan(m) & ~F.isnan(col), col).otherwise(col - m)


#: builtins that RETURN xsd:boolean — their EBV is the value itself
_BOOLEAN_BUILTINS = {
    "BOUND", "CONTAINS", "STRSTARTS", "STRENDS", "REGEX", "ISNUMERIC",
}

#: builtins whose value is a string or boolean — comparing against one
#: must NOT numeric-promote the other side
_NONNUMERIC_BUILTINS = {
    "UCASE", "LCASE", "CONCAT", "SUBSTR", "STRBEFORE", "STRAFTER", "STR",
    "REPLACE", "ENCODE_FOR_URI", "MD5", "SHA1", "SHA256", "SHA384",
    "SHA512", "CONTAINS", "STRSTARTS", "STRENDS", "REGEX", "BOUND",
    "ISNUMERIC", "COALESCE", "IF",
}


def _numeric_forcing(e) -> bool:
    """True when the expression is unambiguously numeric-valued (so a
    lexical string on the other side of a comparison should promote).
    Arithmetic, numeric builtins, xsd numeric casts, and registry (geo)
    measure functions force; string/boolean builtins do not."""
    if isinstance(e, Lit):
        return isinstance(e.value, (int, float))
    if isinstance(e, Func):
        if e.iri.startswith("builtin:"):
            return e.iri[len("builtin:"):] not in _NONNUMERIC_BUILTINS
        if e.iri.startswith(BUILTIN_PREFIXES["xsd"]):
            return e.iri.rsplit("#", 1)[-1] not in ("string", "boolean")
        return True
    return isinstance(e, (Op2, Op1))


# --------------------------------------------------------------- BGP compile --


class _GroupCompiler:
    def __init__(self, spark: SparkSession, model):
        self.spark = spark
        self.model = model

    @staticmethod
    def _merge(frame, binds, kinds, f2, b2, k2, bcast: bool = False):
        """Join a compiled group-item frame into the running group frame
        on the shared variables (inner; cross join when none are shared);
        new variables keep their source columns.  Mutates binds/kinds and
        returns the joined frame (callers handle the frame-is-None seed
        case themselves)."""
        shared = [v for v in b2 if v in binds]
        right = f2.select(
            *[f2[b2[v]].alias(binds[v] if v in shared else b2[v]) for v in b2]
        )
        if bcast:
            right = F.broadcast(right)
        out = (
            frame.join(right, on=[binds[v] for v in shared], how="inner")
            if shared
            else frame.crossJoin(right)
        )
        for v in b2:
            if v not in binds:
                binds[v] = b2[v]
                kinds[v] = k2.get(v, "plain")
        return out

    def compile(self, g: Group):
        g = self._desugar_property_functions(g)
        triples = [it for it in g.items if isinstance(it, Triple)]
        frame, binds, kinds = (None, {}, {})
        unsat_const_path = False
        if triples:
            frame, binds, kinds = self._bgp(
                triples,
                [it for it in g.items if isinstance(it, Filter)],
                [it for it in g.items if isinstance(it, SpatialPF)],
            )
        for it in g.items:
            if isinstance(it, (Triple, SpatialPF)):
                continue
            if isinstance(it, Bind):
                ec = _ExprCompiler(binds, kinds, frame)
                col, kind = ec.compile(it.expr)
                if kind == "geom":
                    # registry functions return WKB for geometry results and
                    # plain scalars otherwise — check the analyzed type, and
                    # surface geometry bindings as WKT lexical forms (the
                    # reference's literal representation)
                    from pyspark.sql.types import BinaryType

                    if isinstance(
                        frame.select(col.alias("x")).schema[0].dataType, BinaryType
                    ):
                        col = REG.REGISTRY["st_astext"][0](col)
                        kind = "wkt"
                    else:
                        kind = "plain"
                cname = f"__v_{it.var}"
                frame = frame.withColumn(cname, col)
                binds[it.var] = cname
                kinds[it.var] = kind
            elif isinstance(it, Filter):
                if getattr(it, "_consumed", False):
                    continue
                ec = _ExprCompiler(binds, kinds, frame)
                frame = frame.filter(ec.ebv(it.expr))
            elif isinstance(it, Optional_):
                of, ob, ok = self.compile(it.group)
                shared = [v for v in ob if v in binds]
                sel = [of[ob[v]].alias(binds[v]) for v in shared] + [
                    of[ob[v]].alias(f"__o_{v}") for v in ob if v not in shared
                ]
                right = of.select(*sel)
                # no shared variables: still a LEFT join (on a literal-true
                # condition, same BroadcastNestedLoop physical as a cross
                # join) — a crossJoin would drop every base row when the
                # optional side matches nothing, but SPARQL LeftJoin keeps
                # them unextended (found by the differential fuzz:
                # OPTIONAL { <ground triple not in graph> })
                frame = (
                    frame.join(right, on=[binds[v] for v in shared], how="left")
                    if shared
                    else frame.join(right, on=F.lit(True), how="left")
                )
                for v in ob:
                    if v not in binds:
                        binds[v] = f"__o_{v}"
                        kinds[v] = ok[v]
            elif isinstance(it, Minus):
                mf, mb, _ = self.compile(it.group)
                shared = [v for v in mb if v in binds]
                if shared:
                    right = mf.select(*[mf[mb[v]].alias(binds[v]) for v in shared])
                    frame = frame.join(right, on=[binds[v] for v in shared], how="left_anti")
            elif isinstance(it, ExistsFilter):
                # FILTER (NOT) EXISTS — semi/anti join on the shared
                # variables (the correlated-subpattern semantics; unlike
                # MINUS, EXISTS with no shared variables tests plain
                # non-emptiness of the inner pattern)
                ef, eb, _ = self.compile(it.group)
                shared = [v for v in eb if v in binds]
                how = "left_anti" if it.negated else "left_semi"
                if shared:
                    right = ef.select(*[ef[eb[v]].alias(binds[v]) for v in shared])
                    frame = frame.join(right, on=[binds[v] for v in shared], how=how)
                else:
                    nonempty = bool(ef.limit(1).count())
                    if nonempty == it.negated:
                        frame = frame.filter(F.lit(False))
            elif isinstance(it, Values):
                rows = [
                    tuple(None if v is None else str(v) for v in row)
                    for row in it.rows
                ]
                schema = ", ".join(f"`__v_{v}` string" for v in it.vars)
                vf = self.spark.createDataFrame(rows, schema=schema)
                vb = {v: f"__v_{v}" for v in it.vars}
                vk = {v: "plain" for v in it.vars}
                if frame is None:
                    frame, binds, kinds = vf, dict(vb), vk
                    continue
                shared = [v for v in vb if v in binds]
                undef_shared = [
                    v
                    for v in shared
                    if any(row[it.vars.index(v)] is None for row in rows)
                ]
                if not undef_shared:
                    # no UNDEF in any shared column: plain broadcast
                    # equi-join on the shared vars
                    frame = self._merge(frame, binds, kinds, vf, vb, vk, bcast=True)
                    continue
                # UNDEF is compatible with ANY binding (§10.2), so a NULL
                # inline value must match every group solution — a
                # condition join against the (tiny, broadcast) VALUES
                # frame, merging each shared binding with COALESCE
                right = vf.select(*[vf[vb[v]].alias(f"__vv_{v}") for v in vb])
                cond = F.lit(True)
                for v in shared:
                    rcol = F.col(f"__vv_{v}")
                    cond = cond & (rcol.isNull() | (F.col(binds[v]) == rcol))
                frame = frame.join(F.broadcast(right), on=cond, how="inner")
                for v in vb:
                    if v in shared:
                        frame = frame.withColumn(
                            binds[v], F.coalesce(F.col(binds[v]), F.col(f"__vv_{v}"))
                        ).drop(f"__vv_{v}")
                    else:
                        frame = frame.withColumnRenamed(f"__vv_{v}", vb[v])
                        binds[v] = vb[v]
                        kinds[v] = "plain"
            elif isinstance(it, SubSelect):
                # SPARQL 1.1 §12: evaluate innermost-first, join on the
                # projected variables shared with the enclosing group
                sf, sk = _run_select(self.spark, it.query, self.model)
                if frame is None:
                    frame = sf
                    binds = {v: v for v in sf.columns}
                    kinds = {v: sk.get(v, "plain") for v in sf.columns}
                else:
                    frame = self._merge(
                        frame, binds, kinds, sf, {v: v for v in sf.columns}, sk
                    )
            elif isinstance(it, PathClosure):
                pf, pb = self._path_closure_frame(it)
                if pb is None:
                    # both endpoints constant: plain reachability test —
                    # deferred to the end of the group so a satisfied test
                    # is order-independent of whichever item binds frame
                    if pf.limit(1).count() == 0:
                        unsat_const_path = True
                    continue
                if frame is None:
                    frame = pf
                    binds = dict(pb)
                    kinds = {v: "plain" for v in pb}
                else:
                    frame = self._merge(
                        frame, binds, kinds, pf, pb, {v: "plain" for v in pb}
                    )
            elif isinstance(it, Union):
                parts = [self.compile(b) for b in it.groups]
                allvars: list[str] = []
                for _, b, _k in parts:
                    allvars += [v for v in b if v not in allvars]
                norm = []
                for f, b, _k in parts:
                    cols = [
                        (F.col(b[v]) if v in b else F.lit(None).cast("string")).alias(
                            f"__v_{v}"
                        )
                        for v in allvars
                    ]
                    norm.append(f.select(*cols))
                uf = norm[0]
                for nf in norm[1:]:
                    uf = uf.unionByName(nf)
                ub = {v: f"__v_{v}" for v in allvars}
                # branches disagreeing on a variable's kind reconcile DOWN
                # to 'plain' (same rule as UnionModel.star_frame): a 'num'
                # branch must not force numeric comparison/EBV semantics
                # onto another branch's plain-string rows
                uk: dict[str, str] = {}
                for _, b, k in parts:
                    for v in b:
                        kv = k.get(v, "plain")
                        if v in uk and uk[v] != kv:
                            uk[v] = "plain"
                        elif v not in uk:
                            uk[v] = kv
                if frame is None:
                    frame, binds, kinds = uf, ub, dict(uk)
                else:
                    frame = self._merge(frame, binds, kinds, uf, ub, uk)
        if frame is None:
            # a group of only constant tests (e.g. ASK { :a :p+ :d }) binds
            # nothing but still has a truth value: one unit row, killed by
            # the unsat flag below when a constant test failed
            frame = self.spark.range(1).select(F.lit(0).alias("__unit"))
            binds, kinds = {}, {}
        if unsat_const_path:
            frame = frame.filter(F.lit(False))
        return frame, binds, kinds

    # -- spatial FILTER rewrite sizing ------------------------------------
    # Polygon sides at or under this row count take the collect/broadcast
    # cover path (dimension-table shape: zones, admin boundaries); larger
    # sides route to the frame-scale mapInPandas cover join with NO
    # driver-side collect (pip_join_points_polygons_frames).  None →
    # resolved through the central knob surface (config.knob
    # "SPATIAL_DIM_MAX", env-overridable); a test/per-compiler override
    # can still pin the class attribute directly.
    _SPATIAL_DIM_MAX: int | None = None

    # -- property-path closure: a distributed reachability operator ------
    _PATH_BFS_ROUNDS = 512  # O(diameter) frontier rounds
    _PATH_SQUARE_ROUNDS = 40  # pointer doubling: paths up to 2^40 edges

    def _step_frame(self, pred: str, inv: bool) -> DataFrame:
        f, b, _ = self.model.star_frame(
            [Triple(Var("__ps"), Iri(pred), Var("__po"))], "__ps"
        )
        src, dst = (b["__po"], b["__ps"]) if inv else (b["__ps"], b["__po"])
        return f.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        )

    def _transitive_closure(self, edges: DataFrame) -> DataFrame:
        """R⁺ by pointer doubling (R ∪ R∘R per round, O(log diameter)
        rounds, eager localCheckpoint lineage truncation per round)."""
        pairs = edges.distinct().localCheckpoint(eager=True)
        n = pairs.count()
        for _ in range(self._PATH_SQUARE_ROUNDS):
            a, b = pairs.alias("a"), pairs.alias("b")
            step = a.join(b, F.col("a.dst") == F.col("b.src")).select(
                F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
            )
            grown = pairs.unionByName(step).distinct().localCheckpoint(eager=True)
            n2 = grown.count()
            if n2 == n:
                return pairs
            pairs, n = grown, n2
        raise RuntimeError(
            f"path closure exceeded {self._PATH_SQUARE_ROUNDS} doubling rounds"
        )

    def _path_rel(self, p) -> tuple[DataFrame, int]:
        """(src, dst) relation of an arbitrary path AST, as the pair
        (R, z) where the path denotes the bag R ⊎ z·I and I is the
        zero-length identity — the recursive generalisation of the
        flattened-alternatives edge frame, used for a closure body that
        itself contains ``? * +`` and for a whole zero-admitting
        sequence (ARQ evaluates these with its ALP iterator; here every
        combinator is a DataFrame operator: union for ``|``, composition
        join for ``/``, swap for ``^``, pointer-doubling closure for the
        mods).

        Bag semantics per W3C §18.4: ``|`` adds multiplicities, ``/``
        multiplies them, and only ``? * +`` yield sets.  The identity is
        NEVER materialized into R: it would put the whole term domain
        through every composition and doubling join, and it is wrong
        for bound endpoints anyway (W3C ZeroLengthPath matches a bound
        term whether or not it occurs in the graph, so the caller must
        decide the identity domain).  Algebra used:
        (R⊎aI)∘(Q⊎bI) = R∘Q ⊎ b·R ⊎ a·Q ⊎ ab·I,
        set(R ∪ I) = (set(R) − diagonal) ⊎ I (the identity carries
        every diagonal pair of R), closure(R∪I) = closure(R) ∪ I,
        closure(closure(R)) = closure(R)."""
        if isinstance(p, Iri):
            return self._step_frame(p.iri, False), 0
        if isinstance(p, PathNPS):
            f, b, _ = self.model.star_frame(
                [Triple(Var("__ps"), Var("__pp"), Var("__po"))], "__ps"
            )
            base = f.select(
                F.col(b["__ps"]).alias("src"),
                F.col(b["__pp"]).alias("__pp"),
                F.col(b["__po"]).alias("dst"),
            ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            parts = []
            if p.fwd or not p.inv:
                e = base if not p.fwd else base.where(~F.col("__pp").isin(*p.fwd))
                parts.append(e.select("src", "dst"))
            if p.inv:
                e = base.where(~F.col("__pp").isin(*p.inv))
                parts.append(
                    e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
            r = parts[0]
            for q in parts[1:]:
                r = r.unionByName(q)
            return r, 0
        if isinstance(p, PathInv):
            r, z = self._path_rel(p.path)
            return (
                r.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                z,
            )
        if isinstance(p, PathAlt):
            ra, za = self._path_rel(p.parts[0])
            for part in p.parts[1:]:
                rb, zb = self._path_rel(part)
                ra, za = ra.unionByName(rb), za + zb
            return ra, za
        if isinstance(p, PathSeq):
            ra, za = self._path_rel(p.parts[0])
            for part in p.parts[1:]:
                rb, zb = self._path_rel(part)
                nxt = rb.withColumnsRenamed({"src": "__mid", "dst": "__nxt"})
                comp = ra.join(nxt, ra["dst"] == nxt["__mid"]).select(
                    "src", F.col("__nxt").alias("dst")
                )
                for _ in range(za):  # (R⊎aI)∘Q ⊇ a·Q
                    comp = comp.unionByName(rb)
                for _ in range(zb):  # R∘(Q⊎bI) ⊇ b·R
                    comp = comp.unionByName(ra)
                ra, za = comp, za * zb
            return ra, za
        if isinstance(p, PathMod):
            base, z = self._path_rel(p.path)
            if p.mod == "+" and not z:
                return self._transitive_closure(base), 0
            rel = self._transitive_closure(base) if p.mod != "?" else base.distinct()
            return rel.where(F.col("src") != F.col("dst")), 1
        raise NotImplementedError(f"unsupported path shape {p!r}")

    def _path_edge_frame(self, pc: PathClosure) -> tuple[DataFrame, int]:
        """Edge relation of the closure body as (R, has_zero):
        alternatives union, a sequence alternative composes its steps
        with equi-joins (src→mid₁→…→dst) — still a fixed relation, so
        the closure loops (BFS / pointer doubling) are unchanged.  A
        body with nested modifiers arrives as a path AST instead of a
        flattened list and evaluates recursively; has_zero means the
        body admits the zero-length path (the caller folds it into the
        closure mod: edges∪I under ``+`` ≡ edges under ``*``)."""
        if not isinstance(pc.edges, list):
            return self._path_rel(pc.edges)
        parts = []
        for steps in pc.edges:
            e = self._step_frame(*steps[0])
            for pred, inv in steps[1:]:
                nxt = self._step_frame(pred, inv).withColumnsRenamed(
                    {"src": "__mid", "dst": "__nxt"}
                )
                e = (
                    e.join(nxt, e["dst"] == nxt["__mid"])
                    .select("src", F.col("__nxt").alias("dst"))
                )
            parts.append(e)
        e = parts[0]
        for p in parts[1:]:
            e = e.unionByName(p)
        return e.distinct(), 0

    def _path_closure_frame(self, pc: PathClosure):
        """``s path{mod} o`` → (pairs frame, binds) — or (pairs, None)
        for the both-constant reachability test.

        Physical strategy by binding shape (the part that matters at
        100 TB — ARQ walks these as an in-memory graph iterator,
        P292/ALP in jena-arq):

        * endpoint constant → **frontier BFS**: the frontier semi-joins
          the edge relation each round, work proportional to the
          reachable set, O(diameter) rounds, per-round
          ``localCheckpoint`` lineage truncation (the components
          operator's pattern, operators/components.py).
        * both endpoints variables → **pointer doubling** on the pair
          relation (R ∪ R∘R per round): O(log diameter) rounds; the
          output is the full reachability relation, which is the
          query's answer anyway, so the quadratic worst case is the
          result size, not overhead.
        * zero-length (``?``/``*``) adds the identity over the model's
          term domain (``nodes_frame``), per SPARQL 1.1 §9.3.
        """
        s_const = None if isinstance(pc.s, Var) else _term_str(pc.s)
        o_const = None if isinstance(pc.o, Var) else _term_str(pc.o)
        # Spark's LogicalRDD constraint rewrite throws NoSuchElementException
        # on the iterative checkpoint-union-checkpoint lineage these loops
        # build (union children sharing a checkpoint's attribute ids); scope
        # constraint propagation off for the closure computation only.
        conf_key = "spark.sql.constraintPropagation.enabled"
        prev_conf = self.spark.conf.get(conf_key, "true")
        self.spark.conf.set(conf_key, "false")
        try:
            return self._path_closure_pairs(pc, s_const, o_const)
        finally:
            self.spark.conf.set(conf_key, prev_conf)

    def _path_closure_pairs(self, pc: PathClosure, s_const, o_const):
        edges, ez = self._path_edge_frame(pc)
        # a zero-admitting body folds into the mod instead of inflating
        # the edge relation with the identity: (R∪I)+ = (R∪I)* = R*,
        # (R∪I)? = R? — the identity itself is added once below, with
        # the CORRECT domain per endpoint shape (a bound endpoint's
        # zero-length solution is that term whether or not it occurs in
        # the graph, W3C §18.4 ZeroLengthPath)
        mod = "*" if (ez and pc.mod == "+") else pc.mod
        # 'seq' (r6): the body IS the relation (no outer closure); the
        # identity joins in iff the sequence admits zero end-to-end
        add_ident = mod in ("?", "*") or (mod == "seq" and ez)

        def bfs(seed: str, forward: bool) -> DataFrame:
            e = (
                edges
                if forward
                else edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).localCheckpoint(eager=True)
            frontier = (
                e.where(F.col("src") == seed).select("dst").distinct()
            ).localCheckpoint(eager=True)
            acc = frontier
            for _ in range(self._PATH_BFS_ROUNDS):
                if frontier.limit(1).count() == 0:
                    return acc
                step = (
                    frontier.alias("f")
                    .join(e.alias("e"), F.col("f.dst") == F.col("e.src"))
                    .select(F.col("e.dst").alias("dst"))
                    .distinct()
                    .join(acc, on="dst", how="left_anti")
                ).localCheckpoint(eager=True)
                acc = acc.unionByName(step).localCheckpoint(eager=True)
                frontier = step
            raise RuntimeError(
                f"path closure exceeded {self._PATH_BFS_ROUNDS} BFS rounds"
            )

        spark = self.spark
        if mod in ("+", "*") and (s_const is not None or o_const is not None):
            if s_const is not None:
                reach = bfs(s_const, forward=True)  # column dst
                pairs = reach.select(
                    F.lit(s_const).alias("src"), F.col("dst")
                )
            else:
                reach = bfs(o_const, forward=False)
                pairs = reach.select(
                    F.col("dst").alias("src"), F.lit(o_const).alias("dst")
                )
        elif mod in ("+", "*"):
            pairs = self._transitive_closure(edges)
        else:  # '?' / 'seq': just the relation
            pairs = edges

        if add_ident:
            if s_const is not None:
                ident = spark.createDataFrame(
                    [(s_const, s_const)], schema="src string, dst string"
                )
            elif o_const is not None:
                ident = spark.createDataFrame(
                    [(o_const, o_const)], schema="src string, dst string"
                )
            else:
                nodes = self.model.nodes_frame()
                ident = nodes.select(
                    F.col("n").alias("src"), F.col("n").alias("dst")
                )
            if mod == "seq":  # a bag: one identity row per zero-length route
                for _ in range(ez):
                    pairs = pairs.unionByName(ident)
            else:
                pairs = pairs.unionByName(ident).distinct()

        if s_const is not None:
            pairs = pairs.where(F.col("src") == s_const)
        if o_const is not None:
            pairs = pairs.where(F.col("dst") == o_const)
        if s_const is not None and o_const is not None:
            out, mapping = pairs, None
        elif s_const is not None:
            ov = pc.o.name
            out = pairs.select(F.col("dst").alias(f"__v_{ov}"))
            mapping = {ov: f"__v_{ov}"}
        elif o_const is not None:
            sv = pc.s.name
            out = pairs.select(F.col("src").alias(f"__v_{sv}"))
            mapping = {sv: f"__v_{sv}"}
        else:
            sv, ov = pc.s.name, pc.o.name
            if sv == ov:
                out = pairs.where(F.col("src") == F.col("dst")).select(
                    F.col("src").alias(f"__v_{sv}")
                )
                mapping = {sv: f"__v_{sv}"}
            else:
                out = pairs.select(
                    F.col("src").alias(f"__v_{sv}"), F.col("dst").alias(f"__v_{ov}")
                )
                mapping = {sv: f"__v_{sv}", ov: f"__v_{ov}"}
        # Materialize INSIDE the caller's constraint-propagation-off window:
        # the returned frame would otherwise execute lazily after the conf
        # is restored (and the '?' branch returns un-checkpointed edges),
        # racing concurrent queries on the session-global flag.
        return out.localCheckpoint(eager=True), mapping

    @staticmethod
    def _desugar_property_functions(g: Group) -> Group:
        """``?a geo:sfWithin ?b`` triple → FILTER(sfWithin(?a_g, ?b_g)).

        Reuses an existing ``geo:asWKT`` binding for each side; if a side
        has none, a fresh geometry pattern is added to its star (GeoSPARQL
        features resolve to their geometries).  The resulting filter is
        eligible for the cell-cover spatial-join rewrite, so the property
        function executes as the re-architected join, not a nested loop
        (the reference delegates to geosparql-jena's in-memory index)."""
        pf = [
            it
            for it in g.items
            if isinstance(it, Triple) and isinstance(it.p, Iri) and it.p.iri in GEO_PF
        ]
        spf = [
            it
            for it in g.items
            if isinstance(it, Triple)
            and isinstance(it.p, Iri)
            and it.p.iri in SPATIAL_PF
        ]
        for it in g.items:
            if (
                isinstance(it, Triple)
                and isinstance(it.o, Coll)
                and not (isinstance(it.p, Iri) and it.p.iri in SPATIAL_PF)
            ):
                raise NotImplementedError(
                    "RDF collection objects are only supported as spatial:* "
                    "property-function argument lists"
                )
        if not pf and not spf:
            return g
        aswkt: dict[str, str] = {}
        for it in g.items:
            if (
                isinstance(it, Triple)
                and isinstance(it.p, Iri)
                and it.p.iri == GEO_ASWKT
                and isinstance(it.s, Var)
                and isinstance(it.o, Var)
            ):
                aswkt.setdefault(it.s.name, it.o.name)
        out = Group([it for it in g.items if it not in pf and it not in spf])
        const_geom: dict[str, str] = {}

        def geom_of(side) -> str:
            if isinstance(side, Var):
                if side.name not in aswkt:
                    fresh = f"__g_{side.name}"
                    out.items.append(Triple(side, Iri(GEO_ASWKT), Var(fresh)))
                    aswkt[side.name] = fresh
                return aswkt[side.name]
            # constant term (ARQ property functions evaluate per-binding,
            # so constants are first-class on the reference surface): a
            # wktLiteral binds directly; an IRI feature anchors an asWKT
            # pattern at the constant
            key = _term_str(side)
            if key not in const_geom:
                fresh = f"__g_c{len(const_geom)}"
                if isinstance(side, Lit):
                    if not (side.dt or "").lower().endswith("wktliteral"):
                        raise NotImplementedError(
                            "constant property-function arguments must be "
                            "wktLiterals or feature/geometry IRIs"
                        )
                    out.items.append(Bind(side, fresh))
                else:
                    out.items.append(Triple(side, Iri(GEO_ASWKT), Var(fresh)))
                const_geom[key] = fresh
            return const_geom[key]

        for t in pf:
            args = [Var(geom_of(t.s)), Var(geom_of(t.o))]
            fn_iri = t.p.iri
            local = fn_iri.rsplit("#", 1)[-1]
            if not local.startswith("sf"):
                # eh*/rcc8* predicates resolve through the geof: filter
                # function surface (DE-9IM pattern dispatch); the sf*
                # names keep their registry spelling so the spatial
                # cover-join rewrite still recognizes them
                fn_iri = BUILTIN_PREFIXES["geof"] + local
            out.items.append(Filter(Func(fn_iri, args)))
        for t in spf:
            if not isinstance(t.o, Coll):
                raise NotImplementedError(
                    "spatial:* property functions need an argument list "
                    "object (use ( … ) collection syntax)"
                )
            out.items.append(
                SpatialPF(t.s, SPATIAL_PF[t.p.iri], t.o.items, geom_of(t.s))
            )
        return out

    def _apply_spatial_pf(self, st, pf: SpatialPF):
        """Compile one jena-spatial property function onto its subject star.

        ``nearby``/``withinCircle (lat lon radius [units [limit]])``:
        radius filter in the given units — metre-family units use the
        great-circle distance (geof:distance's geographic dispatch;
        geosparql-jena's default unit is kilometres), the OGC degree unit
        is planar.  A ``limit`` means the *k nearest* inside the radius:
        a constant-argument point subject routes to the grid-pruned
        distributed kNN operator (operators/knn.py — the BASELINE
        north-rule re-architecture of the reference's single-JVM spatial
        index), every other shape takes a Catalyst
        TakeOrderedAndProject top-k; either way the data side is never
        shuffled.
        ``withinBox``/``intersectBox (latMin lonMin latMax lonMax)``:
        pure-Catalyst range filter.
        ``north``/``south``/``east``/``west (lat lon [limit])``:
        one-sided range filter — Jena's ``SearchEnvelope.build`` spans
        the full orthogonal axis, so only the named axis constrains.
        ``*Geom`` variants substitute the constant geometry literal's
        coordinates (point) or envelope (boxes) for the numeric args.

        Generalizations over the r4 surface (VERDICT r4 ask #3):

        * **any geometry subject** — a non-point subject (polygon, line,
          multi*) evaluates against its ENVELOPE for the box/cardinal
          functions (Jena's spatial index stores envelopes;
          ``SearchEnvelope.check`` intersects them — for points the
          envelope degenerates to the coordinate test) and against the
          exact geometry for ``nearby``/``withinCircle`` (geosparql-jena
          refines candidates with ``GeometryWrapper.distance``, the same
          nearest-pair great-circle kernel behind ``geof_distance``).
          The envelope/distance expressions run per-row, JVM/Arrow-side
          — no driver collect, no join, so the filter shape is identical
          to the point fast path at any scale.
        * **variable numeric arguments** — ARQ evaluates property
          functions per solution binding, so ``spatial:nearby(?lat ?lon
          5.0)`` with ?lat/?lon bound in the subject's star compiles to
          per-row column arithmetic.  Units and the kNN ``limit`` stay
          constants (the unit picks the distance kernel at compile time;
          the limit is a plan-level top-k).
        """
        frame = st["frame"]
        gv = pf.geom_var
        lon_c, lat_c = f"__lon_{gv}", f"__lat_{gv}"
        kind = st["kinds"].get(gv) or ""
        is_point = kind == "wkt_point" and lon_c in frame.columns
        if not kind.startswith("wkt"):
            raise NotImplementedError(
                f"spatial:{pf.name} subject must resolve to a geometry "
                f"(got kind {kind or None!r})"
            )

        def num(v):
            """Numeric argument → (Column, constant-or-None).  Constants
            stay literals (the kNN fast path needs the floats); a
            variable bound in this star becomes its column."""
            if isinstance(v, Var):
                c = st["binds"].get(v.name)
                if c is None:
                    raise NotImplementedError(
                        f"spatial:{pf.name} argument ?{v.name} must be "
                        "bound in the subject's own star (cross-star "
                        "argument variables would need a per-binding "
                        "join; bind it on the subject or inline a "
                        "constant)"
                    )
                return F.col(c).cast("double"), None
            return F.lit(float(v.value)), float(v.value)

        def wkb_col():
            return REG.REGISTRY["st_geomfromtext"][0](
                F.col(st["binds"][gv]).cast("string")
            )

        def env_col():
            from .functions.vector import st_bounds

            # asNondeterministic: optimizer barrier only (the kernel is
            # pure).  The general (non-point) paths widen an under-split
            # frame with widen_if_narrow so the per-row kernel does not
            # serialize; Catalyst would push a deterministic filter back
            # through that bare repartition, so every widened call site
            # marks its kernel nondeterministic instead of materializing
            # a checkpoint at compile time (guide §4.4, the same pin
            # refine_candidates uses)
            return st_bounds.asNondeterministic()(wkb_col())

        vals = pf.args
        name = pf.name
        if name.endswith("geom"):
            from .geom import wkt as GW

            if not vals or not isinstance(vals[0], Lit):
                raise NotImplementedError(
                    f"spatial:{pf.name} needs a constant geometry literal"
                )
            g = GW.from_wkt(str(vals[0].value))
            coords = g.all_coords()
            if len(coords) == 0:
                raise ValueError(f"spatial:{pf.name}: empty geometry literal")
            if name in ("withinboxgeom", "intersectboxgeom"):
                vals = [
                    Lit(float(coords[:, 1].min())),
                    Lit(float(coords[:, 0].min())),
                    Lit(float(coords[:, 1].max())),
                    Lit(float(coords[:, 0].max())),
                ]
            else:
                if g.kind != "point":
                    raise NotImplementedError(
                        f"spatial:{pf.name} needs a point literal"
                    )
                vals = [
                    Lit(float(coords[0, 1])),
                    Lit(float(coords[0, 0])),
                ] + list(vals[1:])
            name = name[: -len("geom")]
        if name in ("north", "south", "east", "west"):
            if not 2 <= len(vals) <= 3:
                raise ValueError(
                    f"spatial:{pf.name} takes (lat lon [limit])"
                )
            if len(vals) == 3:
                raise NotImplementedError(
                    f"spatial:{pf.name}: a result limit is unordered in "
                    "the reference and not supported"
                )
            qlat, qlon = num(vals[0])[0], num(vals[1])[0]
            if is_point:
                cond = {
                    "north": F.col(lat_c) >= qlat,
                    "south": F.col(lat_c) <= qlat,
                    "east": F.col(lon_c) >= qlon,
                    "west": F.col(lon_c) <= qlon,
                }[name]
            else:
                frame = widen_if_narrow(frame)
                env = env_col()
                cond = {
                    "north": env["ymax"] >= qlat,
                    "south": env["ymin"] <= qlat,
                    "east": env["xmax"] >= qlon,
                    "west": env["xmin"] <= qlon,
                }[name]
            return frame.filter(cond)
        if name in ("withinbox", "intersectbox"):
            if len(vals) != 4:
                raise NotImplementedError(
                    f"spatial:{pf.name} takes (latMin lonMin latMax lonMax); "
                    "a result limit on box functions is unordered in the "
                    "reference and not supported"
                )
            lat_min, lon_min, lat_max, lon_max = (num(v)[0] for v in vals)
            if is_point:
                return frame.filter(
                    (F.col(lat_c) >= lat_min)
                    & (F.col(lat_c) <= lat_max)
                    & (F.col(lon_c) >= lon_min)
                    & (F.col(lon_c) <= lon_max)
                )
            frame = widen_if_narrow(frame)
            env = env_col()
            if name == "withinbox":
                cond = (
                    (env["ymin"] >= lat_min)
                    & (env["ymax"] <= lat_max)
                    & (env["xmin"] >= lon_min)
                    & (env["xmax"] <= lon_max)
                )
            else:
                cond = (
                    (env["ymin"] <= lat_max)
                    & (env["ymax"] >= lat_min)
                    & (env["xmin"] <= lon_max)
                    & (env["xmax"] >= lon_min)
                )
            return frame.filter(cond)
        if not 3 <= len(vals) <= 5:
            raise ValueError(
                f"spatial:{pf.name} takes (lat lon radius [units [limit]])"
            )
        (qlat_c, qlat), (qlon_c, qlon), (rad_c, radius) = (
            num(vals[0]), num(vals[1]), num(vals[2])
        )
        unit, limit = "km", None
        for extra in vals[3:]:
            if isinstance(extra, Lit) and isinstance(extra.value, (int, float)):
                limit = int(extra.value)
            elif isinstance(extra, Var):
                raise NotImplementedError(
                    f"spatial:{pf.name}: units and limit must be constants"
                )
            else:
                key = (
                    extra.iri if isinstance(extra, Iri) else str(extra.value)
                )
                key = re.split(r"[/#]", key)[-1].lower()
                if key not in _SPATIAL_UNITS:
                    raise NotImplementedError(f"spatial unit {key!r}")
                unit = _SPATIAL_UNITS[key][0]
        sv = pf.s.name if isinstance(pf.s, Var) else None
        tie_c = st["binds"].get(sv) or st["binds"][gv]
        if unit == "degree":
            if is_point:
                dx = F.col(lon_c) - qlon_c
                dy = F.col(lat_c) - qlat_c
                dist = F.sqrt(dx * dx + dy * dy)
            else:
                frame = widen_if_narrow(frame)
                pt = REG.REGISTRY["st_makepoint"][0](qlon_c, qlat_c)
                # barrier against filter pushdown through the repartition
                # (pure kernel; see env_col)
                dist = REG.REGISTRY["st_distance"][0].asNondeterministic()(
                    wkb_col(), pt
                )
            if limit is None:
                return frame.filter(dist <= rad_c)
            if is_point and None not in (qlat, qlon, radius):
                from .operators.knn import knn_join

                # Tie-break on the subject bind (deterministic, unique per
                # star row) — monotonically_increasing_id would make
                # equidistant k-boundary rows partition-layout-dependent.
                # The checkpoint pins the (possibly expensive) star subplan
                # so knn_join's ring rounds don't recompute it.
                rid = "__spf_rid"
                pinned = frame.withColumn(rid, F.col(tie_c)).localCheckpoint(
                    eager=True
                )
                hits = knn_join(
                    self.spark,
                    pinned.select(rid, lon_c, lat_c),
                    [("q", qlon, qlat)],
                    k=limit,
                    lon=lon_c,
                    lat=lat_c,
                    id_col=rid,
                )
                hits = hits.filter(F.col("dist") <= F.lit(radius)).select(rid)
                return pinned.join(F.broadcast(hits), rid).drop(rid)
            # general/variable-argument top-k: radius filter + Catalyst
            # TakeOrderedAndProject (no shuffle of the data side)
            d_c = "__spf_d"
            return (
                frame.withColumn(d_c, dist)
                .filter(F.col(d_c) <= rad_c)
                .orderBy(F.col(d_c).asc(), F.col(tie_c).asc())
                .limit(limit)
                .drop(d_c)
            )
        m_per = _SPATIAL_UNITS[unit][1]
        if is_point:
            from .functions.vector import st_distance_sphere

            dist_m = st_distance_sphere(
                F.col(lon_c), F.col(lat_c), qlon_c, qlat_c
            )
        else:
            from .functions.vector import spatial_nearby_distance_m

            frame = widen_if_narrow(frame)
            # barrier against filter pushdown through the repartition
            # (pure kernel; see env_col)
            dist_m = spatial_nearby_distance_m.asNondeterministic()(
                F.col(st["binds"][gv]).cast("string"), qlon_c, qlat_c
            )
        out = frame.filter(dist_m <= rad_c * F.lit(m_per))
        if limit is not None:
            d_c = "__spf_d"
            out = (
                out.withColumn(d_c, dist_m)
                .orderBy(F.col(d_c).asc(), F.col(tie_c).asc())
                .limit(limit)
                .drop(d_c)
            )
        return out

    # -- basic graph pattern: star grouping + join graph + spatial rewrite
    def _bgp(
        self,
        triples: list[Triple],
        filters: list[Filter],
        spatial_pfs: list[SpatialPF] = (),
    ):
        stars: dict[object, list[Triple]] = {}
        order: list[object] = []
        for t in triples:
            key = t.s.name if isinstance(t.s, Var) else ("iri", t.s.iri)
            if key not in stars:
                stars[key] = []
                order.append(key)
            stars[key].append(t)

        built = []
        for key in order:
            subj_var = key if isinstance(key, str) else None
            f, b, k = self.model.star_frame(stars[key], subj_var)
            built.append({"frame": f, "binds": b, "kinds": k})

        for pf in spatial_pfs:
            for st in built:
                if pf.geom_var in st["binds"]:
                    st["frame"] = self._apply_spatial_pf(st, pf)
                    break
            else:  # pragma: no cover - desugar always adds the star
                raise NotImplementedError(
                    f"spatial:{pf.name} subject has no geometry star"
                )

        # connected components over shared variables
        merged = built[0]
        pending = built[1:]
        while pending:
            progress = False
            for i, nxt in enumerate(pending):
                shared = [v for v in nxt["binds"] if v in merged["binds"]]
                if shared:
                    merged = self._join(merged, pending.pop(i), shared)
                    progress = True
                    break
            if not progress:
                nxt = pending[0]
                rewritten = self._try_spatial_rewrite(merged, nxt, filters)
                if rewritten is None:
                    rewritten = self._try_dwithin_rewrite(merged, nxt, filters)
                if rewritten is not None:
                    merged = rewritten
                    pending.pop(0)
                else:
                    # SPARQL cross product (ARQ's nested-loop shape);
                    # filters apply afterwards
                    nxt = pending.pop(0)
                    merged = {
                        "frame": merged["frame"].crossJoin(nxt["frame"]),
                        "binds": {**merged["binds"], **nxt["binds"]},
                        "kinds": {**merged["kinds"], **nxt["kinds"]},
                    }
        return merged["frame"], merged["binds"], merged["kinds"]

    def _join(self, a, b, shared):
        bf = b["frame"]
        # align shared-var column names then equi-join (Catalyst plans
        # broadcast vs shuffle via AQE)
        ren = {}
        for v in shared:
            if b["binds"][v] != a["binds"][v]:
                bf = bf.withColumnRenamed(b["binds"][v], a["binds"][v])
            ren[v] = a["binds"][v]
        joined = a["frame"].join(bf, on=[a["binds"][v] for v in shared], how="inner")
        binds = {**b["binds"], **ren, **a["binds"]}
        kinds = {**b["kinds"], **a["kinds"]}
        return {"frame": joined, "binds": binds, "kinds": kinds}

    def _try_spatial_rewrite(self, a, b, filters: list[Filter]):
        """cross + FILTER(ST_Within(?pt, ?poly)) → cell-cover spatial join.

        Applies when one side binds a declared point geometry (with
        lon/lat columns) and the other a polygon geometry; this is the
        exact query shape ARQ runs as a nested loop (SURVEY §2.5) and the
        north-rule's re-architected operator replaces."""
        from .operators.spatial_join import build_zone_covers, spatial_join_points_zones

        for flt in filters:
            e = flt.expr
            if not (isinstance(e, Func) and _registry_name(e.iri) in _GEO_PREDICATES):
                continue
            if len(e.args) != 2 or not all(isinstance(x, Var) for x in e.args):
                continue
            flipped = _GEO_PREDICATES[_registry_name(e.iri)]
            pt_e, poly_e = (e.args[1], e.args[0]) if flipped else (e.args[0], e.args[1])
            sides = {}
            for side, part in (("a", a), ("b", b)):
                for role, var in (("pt", pt_e.name), ("poly", poly_e.name)):
                    if var in part["binds"]:
                        sides[role] = (side, part)
            if len(sides) != 2 or sides["pt"][0] == sides["poly"][0]:
                continue
            pt_part, poly_part = sides["pt"][1], sides["poly"][1]
            if pt_part["kinds"].get(pt_e.name) != "wkt_point":
                continue
            if not pt_part["kinds"].get(pt_e.name) or f"__lon_{pt_e.name}" not in pt_part["frame"].columns:
                continue
            if not (poly_part["kinds"].get(poly_e.name) or "").startswith("wkt"):
                continue
            poly_f = poly_part["frame"]
            zid = "__zid"
            wkt_bind = poly_part["binds"][poly_e.name]
            # size guard: at or under _SPATIAL_DIM_MAX the polygon side is
            # dimension-table shaped → collect + broadcast covers; above
            # it, NOTHING is collected — covers build in mapInPandas and
            # the join-back is a shuffle join (the r3 verdict's last
            # scale-killer shape).  r6: the probe is limit(max+1).count()
            # — it stops scanning after max+1 rows instead of counting the
            # whole table (at 100 TB the old full count was itself a scan)
            # and needs no compile-time localCheckpoint job; on the dim
            # path ONE bounded collect then feeds BOTH the driver-side
            # covers and the broadcast join-back frame (ids assigned
            # driver-side, so no monotonically_increasing_id pinning).
            dim_max = self._SPATIAL_DIM_MAX
            if dim_max is None:
                from .config import knob

                dim_max = knob("SPATIAL_DIM_MAX")
            # ONE bounded action decides AND fetches: limit(max+1)
            # returning ≤ max rows proves the table is dimension-sized
            # and the collected rows ARE the whole table
            collected = poly_f.limit(dim_max + 1).collect()
            if len(collected) <= dim_max:
                zones = [
                    (str(i), row[wkt_bind]) for i, row in enumerate(collected)
                ]
                covers = build_zone_covers(zones)
                from pyspark.sql.types import LongType, StructField, StructType

                back_schema = StructType(
                    list(poly_f.schema.fields) + [StructField(zid, LongType())]
                )
                poly_rows = self.spark.createDataFrame(
                    [tuple(row) + (i,) for i, row in enumerate(collected)],
                    back_schema,
                )
                joined = spatial_join_points_zones(
                    self.spark,
                    pt_part["frame"],
                    covers,
                    lon=f"__lon_{pt_e.name}",
                    lat=f"__lat_{pt_e.name}",
                )
                out = joined.withColumn(
                    zid, F.col("zone_id").cast("long")
                ).drop("zone_id").join(
                    F.broadcast(poly_rows), on=zid, how="inner"
                ).drop(zid)
            else:
                # localCheckpoint pins the monotonically_increasing_id
                # rows (the id must not be recomputed under a different
                # partition layout between cover build and join-back);
                # unlike cache(), no session-lifetime storage pin.
                poly_rows = poly_f.withColumn(
                    zid, F.monotonically_increasing_id()
                ).localCheckpoint(eager=True)
                from .operators.spatial_join import pip_join_points_polygons_frames

                joined = pip_join_points_polygons_frames(
                    self.spark,
                    pt_part["frame"],
                    poly_rows.select(zid, wkt_bind),
                    lon=f"__lon_{pt_e.name}",
                    lat=f"__lat_{pt_e.name}",
                    poly_id=zid,
                    wkt_col=wkt_bind,
                )
                out = joined.join(poly_rows, on=zid, how="inner").drop(zid)
            flt._consumed = True  # noqa: SLF001 — mark applied
            return {
                "frame": out,
                "binds": {**pt_part["binds"], **poly_part["binds"]},
                "kinds": {**pt_part["kinds"], **poly_part["kinds"]},
            }
        return None


    def _try_dwithin_rewrite(self, a, b, filters: list[Filter]):
        """cross + FILTER(ST_Distance(?a,?b) < r / ST_DWithin(?a,?b,r)) →
        the table×table DWithin grid join.

        Applies to two declared point stars.  The join prefilters with
        ``dist ≤ r`` (a superset of both ``<`` and ``≤``); the original
        FILTER is left in place and re-applies exactly on the joined
        rows, so strict-vs-inclusive comparison and the function's own
        arithmetic stay authoritative.  Restricted to the planar
        ``ST_Distance``/``ST_DWithin`` names — ``geof:distance`` is
        SRID-dispatched (great-circle on geographic SRIDs) and keeps the
        nested-loop fallback."""
        from .operators.spatial_join import dwithin_join_points_points

        for flt in filters:
            e = flt.expr
            cand = None
            if (
                isinstance(e, Func)
                and _registry_name(e.iri) == "st_dwithin"
                and len(e.args) == 3
                and isinstance(e.args[2], Lit)
                and isinstance(e.args[2].value, (int, float))
            ):
                cand = (e.args[0], e.args[1], float(e.args[2].value))
            elif isinstance(e, Op2) and e.op in ("<", "<=", ">", ">="):
                fn, rl = (
                    (e.left, e.right) if e.op in ("<", "<=") else (e.right, e.left)
                )
                if (
                    isinstance(fn, Func)
                    and _registry_name(fn.iri) in ("st_distance", "distance")
                    and len(fn.args) == 2
                    and isinstance(rl, Lit)
                    and isinstance(rl.value, (int, float))
                ):
                    cand = (fn.args[0], fn.args[1], float(rl.value))
            if cand is None or not all(isinstance(x, Var) for x in cand[:2]):
                continue
            va, vb, radius = cand
            sides = {}
            for side, part in (("a", a), ("b", b)):
                for role, var in (("l", va.name), ("r", vb.name)):
                    if var in part["binds"]:
                        sides[role] = (side, part, var)
            if len(sides) != 2 or sides["l"][0] == sides["r"][0]:
                continue
            (_, lpart, lvar), (_, rpart, rvar) = sides["l"], sides["r"]
            ok = True
            for part, var in ((lpart, lvar), (rpart, rvar)):
                if (
                    part["kinds"].get(var) != "wkt_point"
                    or f"__lon_{var}" not in part["frame"].columns
                ):
                    ok = False
            if not ok:
                continue
            # the operator reads one (lon, lat) column pair on both sides
            rf = rpart["frame"].withColumnRenamed(
                f"__lon_{rvar}", f"__lon_{lvar}"
            ).withColumnRenamed(f"__lat_{rvar}", f"__lat_{lvar}")
            keep = [c for c in rf.columns if c.startswith("__v_")]
            joined = dwithin_join_points_points(
                self.spark,
                lpart["frame"],
                rf,
                radius,
                right_id=keep[0] if keep else rf.columns[0],
                lon=f"__lon_{lvar}",
                lat=f"__lat_{lvar}",
                right_keep=keep,
            ).drop("dist")
            # the FILTER stays un-consumed: it re-applies exactly on the
            # joined rows (dist ≤ r candidates ⊇ both < and ≤ semantics)
            return {
                "frame": joined,
                "binds": {**lpart["binds"], **rpart["binds"]},
                "kinds": {**lpart["kinds"], **rpart["kinds"]},
            }
        return None


# ---------------------------------------------------------------- aggregates --

# SPARQL builtin set-functions → Catalyst aggregates
_PLAIN_AGGS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}
# the reference's §2.4 aggregate surface (aggregate/*.java — contracted in
# its README but never registered with ARQ, so *only queryable here*)
_GEO_AGGS = {"st_boundingbox", "st_avgx", "st_avgy", "st_minx", "st_maxx",
             "st_miny", "st_maxy"}


def _is_agg_node(e) -> bool:
    if not isinstance(e, Func):
        return False
    if e.iri.startswith("builtin:") and e.iri[len("builtin:"):] in _PLAIN_AGGS:
        return True
    return _registry_name(e.iri) in _GEO_AGGS or _registry_name(e.iri).replace(
        "distinct", ""
    ) in _GEO_AGGS


def _has_agg(e) -> bool:
    if _is_agg_node(e):
        return True
    if isinstance(e, Func):
        return any(_has_agg(a) for a in e.args)
    if isinstance(e, Op2):
        return _has_agg(e.left) or _has_agg(e.right)
    if isinstance(e, Op1):
        return _has_agg(e.arg)
    return False


class _AggCompiler:
    """Select-expression compiler for aggregate mode.

    Aggregate nodes become pre-aggregation Columns (collected into
    ``self.aggs`` for one ``groupBy().agg(...)`` pass — Spark's
    partial+final aggregation mirrors the reference's Accumulator split,
    ``aggregate/AvgX.java:71-110``); the remaining expression is rebuilt
    post-agg over the aggregated frame.  AvgX/AvgY fold per-row
    coordinate (sum, count) pairs via ``F.aggregate`` over
    ``st_dumppoints`` — every coordinate of every geometry, no row
    explosion, map-side combinable."""

    def __init__(self, ec: "_ExprCompiler", group_vars: list[str]):
        self.ec = ec
        self.group_vars = group_vars
        self.aggs: list[F.Column] = []
        self._n = 0

    def _slot(self, col: F.Column) -> F.Column:
        name = f"__agg{self._n}"
        self._n += 1
        self.aggs.append(col.alias(name))
        return F.col(name)

    def _geom_arg(self, e) -> F.Column:
        c, k = self.ec.compile(e)
        return REG.REGISTRY["st_geomfromtext"][0](c) if k == "wkt" else c

    def compile(self, e) -> F.Column:
        if _is_agg_node(e):
            return self._agg(e)
        if isinstance(e, Var):
            if e.name not in self.group_vars:
                raise ValueError(
                    f"?{e.name} used outside an aggregate must be in GROUP BY"
                )
            return self.ec.var_col(e.name)
        if isinstance(e, Lit):
            return F.lit(e.value)
        if isinstance(e, Op1):
            c = self.compile(e.arg)
            return ~c if e.op == "!" else -c
        if isinstance(e, Op2):
            lc, rc = self.compile(e.left), self.compile(e.right)
            return {
                "||": lc | rc, "&&": lc & rc, "=": lc == rc, "!=": lc != rc,
                "<": lc < rc, ">": lc > rc, "<=": lc <= rc, ">=": lc >= rc,
                "+": lc + rc, "-": lc - rc, "*": lc * rc, "/": F.try_divide(lc, rc),
            }[e.op]
        raise TypeError(f"cannot compile aggregate-mode expression {e!r}")

    def _agg(self, e: Func) -> F.Column:
        if e.iri.startswith("builtin:"):
            name = e.iri[len("builtin:"):]
            if name == "COUNT":
                if not e.args:
                    return self._slot(F.count(F.lit(1)))
                c, _ = self.ec.compile(e.args[0])
                return self._slot(F.count_distinct(c) if e.distinct else F.count(c))
            if name == "GROUP_CONCAT":
                # §18.5.1.7 leaves element order implementation-defined;
                # sorting makes the result deterministic under any
                # partitioning (and SQL-mirrorable: string_agg ORDER BY)
                c, _ = self.ec.compile(e.args[0])
                sep = str(e.args[1].value) if len(e.args) > 1 else " "
                coll = (
                    F.collect_set(c.cast("string"))
                    if e.distinct
                    else F.collect_list(c.cast("string"))
                )
                return self._slot(F.array_join(F.sort_array(coll), sep))
            if name == "SAMPLE":
                # any value is a valid sample (§18.5.1.8); MIN is the
                # deterministic choice
                c, _ = self.ec.compile(e.args[0])
                return self._slot(F.min(c))
            c, _ = self.ec.compile(e.args[0])
            typed_num = (
                isinstance(e.args[0], Var)
                and self.ec.kinds.get(e.args[0].name) == "num"
            )
            if name in ("SUM", "AVG"):
                # numeric-only aggregates (§18.5.1.2/.6): lexical values
                # coerce leniently — a non-numeric group yields the
                # spec's error (unbound), never an ANSI cast abort
                if _numericish(e.args[0]):
                    c = c.try_cast("double")
            elif typed_num:
                # MIN/MAX order typed numerics by VALUE; untyped string
                # bindings keep fn:min/fn:max string ordering (the
                # blanket cast would null "alice"/"bob" to unbound)
                c = c.try_cast("double")
            # §18.5.1.2/.6: Sum and Avg of the EMPTY multiset are 0, not
            # NULL.  Only a global aggregate over zero rows can produce an
            # empty group (GROUP BY never emits empty groups), so guard on
            # the group row count rather than coalescing — a group whose
            # values are all non-numeric (sum NULL, count > 0) stays
            # unbound, the spec's error case.
            empty_zero = lambda col: F.when(  # noqa: E731
                F.count(F.lit(1)) == 0, F.lit(0.0)
            ).otherwise(col)
            if e.distinct:
                # MIN/MAX are distinct-invariant; SUM(DISTINCT) is native;
                # AVG(DISTINCT) = sum_distinct / count_distinct (Spark's
                # Average is sum/count anyway, so semantics are identical)
                if name == "SUM":
                    return self._slot(empty_zero(F.sum_distinct(c)))
                if name == "AVG":
                    return self._slot(
                        empty_zero(F.sum_distinct(c) / F.count_distinct(c))
                    )
            fn = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[name]
            out = fn(c)
            if name in ("SUM", "AVG"):
                out = empty_zero(out)
            return self._slot(out)
        name = _registry_name(e.iri)
        distinct = False
        if name.endswith("distinct") and name.replace("distinct", "") in _GEO_AGGS:
            # ARQ DISTINCT semantics: the aggregate sees each distinct
            # geometry VALUE once per group.  Min/Max/BoundingBox are
            # distinct-invariant; only the averages change.  (The
            # reference's *Distinct classes discard the flag — AvgX's
            # protected constructor drops isDistinct, AvgXDistinct.java:7
            # — so there they behave as non-distinct; we implement the
            # declared semantics.)
            distinct, name = True, name.replace("distinct", "")
        g = self._geom_arg(e.args[0])
        from .functions.vector import st_dumppoints

        if name == "st_minx":
            return self._slot(F.min(REG.REGISTRY["st_xmin"][0](g)))
        if name == "st_maxx":
            return self._slot(F.max(REG.REGISTRY["st_xmax"][0](g)))
        if name == "st_miny":
            return self._slot(F.min(REG.REGISTRY["st_ymin"][0](g)))
        if name == "st_maxy":
            return self._slot(F.max(REG.REGISTRY["st_ymax"][0](g)))
        if name in ("st_avgx", "st_avgy"):
            ax = "x" if name == "st_avgx" else "y"
            pts = st_dumppoints(g)
            coordsum = F.aggregate(
                pts, F.lit(0.0), lambda acc, p: acc + p[ax]
            )
            npts = F.size(pts).cast("double")
            if distinct:
                # per-row (geom, coordsum, n) structs; collect_set dedupes
                # on the geometry value (s and n are functions of it), then
                # the sums run over the distinct set only
                uniq = self._slot(
                    F.collect_set(
                        F.struct(
                            g.alias("g"), coordsum.alias("s"), npts.alias("n")
                        )
                    )
                )
                s = F.aggregate(uniq, F.lit(0.0), lambda a, r: a + r["s"])
                n = F.aggregate(uniq, F.lit(0.0), lambda a, r: a + r["n"])
                return s / n
            s = self._slot(F.sum(coordsum))
            n = self._slot(F.sum(npts))
            return s / n
        if name == "st_boundingbox":
            xmin = self._slot(F.min(REG.REGISTRY["st_xmin"][0](g)))
            ymin = self._slot(F.min(REG.REGISTRY["st_ymin"][0](g)))
            xmax = self._slot(F.max(REG.REGISTRY["st_xmax"][0](g)))
            ymax = self._slot(F.max(REG.REGISTRY["st_ymax"][0](g)))
            s = lambda c: c.cast("string")  # noqa: E731
            return F.concat(
                F.lit("POLYGON (("),
                s(xmin), F.lit(" "), s(ymin), F.lit(", "),
                s(xmax), F.lit(" "), s(ymin), F.lit(", "),
                s(xmax), F.lit(" "), s(ymax), F.lit(", "),
                s(xmin), F.lit(" "), s(ymax), F.lit(", "),
                s(xmin), F.lit(" "), s(ymin),
                F.lit("))"),
            )
        raise KeyError(f"unknown aggregate {e.iri}")


# ------------------------------------------------------------------ executor --


def _run_select(spark: SparkSession, q: Query, model):
    """Compile one (sub)SELECT to a projected DataFrame.

    Returns ``(frame, kinds)`` where the frame's columns are the
    selected variable names and kinds maps them to
    'plain'/'wkt'/'wkt_*' (what a surrounding scope needs to keep
    geometry coercion working across a subquery boundary)."""
    frame, binds, kinds = _GroupCompiler(spark, model).compile(q.where)

    agg_mode = (
        bool(q.group_by)
        or q.having is not None
        or any(it[0] == "expr" and _has_agg(it[1]) for it in (q.select or []))
    )
    okinds: dict[str, str] = {}
    if agg_mode:
        ec = _ExprCompiler(binds, kinds, frame)
        ac = _AggCompiler(ec, q.group_by)
        post: list[F.Column] = []
        for it in q.select or []:
            if it[0] == "var":
                if it[1] not in q.group_by:
                    raise ValueError(f"?{it[1]} selected outside GROUP BY")
                post.append(F.col(binds[it[1]]).alias(it[1]))
                okinds[it[1]] = kinds.get(it[1], "plain")
            else:
                post.append(ac.compile(it[1]).alias(it[2]))
                okinds[it[2]] = "plain"
        having_col = ac.compile(q.having) if q.having is not None else None
        gcols = [binds[v] for v in q.group_by]
        if ac.aggs:
            aggframe = frame.groupBy(*gcols).agg(*ac.aggs)
        else:
            aggframe = frame.select(*gcols).dropDuplicates()
        if having_col is not None:
            aggframe = aggframe.filter(having_col)
        out = aggframe.select(*post)
    else:
        sel_items = (
            q.select
            if q.select is not None
            else [("var", v) for v in sorted(binds) if not _internal_var(v)]
        )
        cols = []
        ec = _ExprCompiler(binds, kinds, frame)
        for it in sel_items:
            if it[0] == "var":
                v = it[1]
                if v not in binds:
                    cols.append(F.lit(None).cast("string").alias(v))
                    okinds[v] = "plain"
                else:
                    cols.append(F.col(binds[v]).alias(v))
                    okinds[v] = kinds.get(v, "plain")
            else:
                col, kind = ec.compile(it[1])
                if kind == "geom":
                    from pyspark.sql.types import BinaryType

                    if isinstance(
                        frame.select(col.alias("x")).schema[0].dataType, BinaryType
                    ):
                        col = REG.REGISTRY["st_astext"][0](col)
                        kind = "wkt"
                    else:
                        kind = "plain"
                cols.append(col.alias(it[2]))
                okinds[it[2]] = kind
        out = frame.select(*cols)
    if q.distinct:
        out = out.dropDuplicates()
    if q.order_by:
        # SPARQL may order by WHERE-bound variables that are not
        # projected; sort the pre-projection frame in that case (select
        # preserves sort order)
        if not all(v in out.columns for v, _ in q.order_by):
            if agg_mode or q.distinct:
                raise ValueError(
                    "ORDER BY variable must be projected with DISTINCT/aggregates"
                )
            missing = [v for v, _ in q.order_by if v not in out.columns and v not in binds]
            if missing:
                raise KeyError(f"unbound ORDER BY variable(s) {missing}")
            def _key(v):
                c = F.col(binds[v]) if v in binds else F.col(v)
                # xsd-numeric bindings order by VALUE, not lexical form
                # ("10" must sort after "9"); failed casts (NULL = error)
                # keep Spark's null placement = SPARQL's unbound-lowest
                return c.try_cast("double") if kinds.get(v) == "num" else c

            sorted_frame = frame.orderBy(
                *[(_key(v).asc() if asc else _key(v).desc()) for v, asc in q.order_by]
            )
            out = sorted_frame.select(*cols)
        else:
            out = out.orderBy(
                *[
                    (
                        (F.col(v).try_cast("double") if okinds.get(v) == "num" else F.col(v)).asc()
                        if asc
                        else (F.col(v).try_cast("double") if okinds.get(v) == "num" else F.col(v)).desc()
                    )
                    for v, asc in q.order_by
                ]
            )
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out, okinds


def execute_query(spark: SparkSession, query: str, model) -> DataFrame:
    """Compile and run a SPARQL query against a model backend
    (:class:`TriplesModel`, :class:`PropertyTable` or
    :class:`UnionModel`).

    SELECT returns a DataFrame whose columns are the selected variable
    names; ASK returns a one-row ``ask boolean`` DataFrame; CONSTRUCT
    returns the instantiated-template graph as a distinct ``s p o``
    triples DataFrame; DESCRIBE returns the resources' subject triples
    the same way (§16.4, subject-rooted bounded description)."""
    q = parse_query(query)
    if q.form == "ask":
        return spark.createDataFrame([(_run_ask(spark, q, model),)], "ask boolean")
    if q.form == "construct":
        return _run_construct(spark, q, model)
    if q.form == "describe":
        return _run_describe(spark, q, model)
    return _run_select(spark, q, model)[0]


def execute_ask(spark: SparkSession, query: str, model) -> bool:
    """``ASK`` — does the pattern have ≥1 solution?  Evaluates as
    ``limit(1)`` over the compiled pattern: the scan short-circuits on
    the first produced row, never materialising the full result."""
    q = parse_query(query)
    if q.form != "ask":
        raise ValueError("execute_ask needs an ASK query")
    return _run_ask(spark, q, model)


def _run_ask(spark: SparkSession, q: Query, model) -> bool:
    sel = Query(None, False, q.where, [], 1, None)
    return _run_select(spark, sel, model)[0].limit(1).count() > 0


def _run_construct(spark: SparkSession, q: Query, model) -> DataFrame:
    """CONSTRUCT: run the WHERE pattern as SELECT *, instantiate every
    template triple per solution, drop triples with unbound terms
    (§16.2), and ``distinct`` — a graph is a set of triples.

    Template blank nodes (labeled ``_:x`` or anonymous ``[…]``) mean a
    FRESH blank node per solution (§16.2.1): the same label shares one
    node within a solution and never across solutions.  Labels are minted
    distributedly from a per-row id — no driver round trip — so two
    template triples over label ``_:x`` stay connected row-wise."""
    frame, _ = _run_select(
        spark, Query(None, False, q.where, [], q.limit, q.offset), model
    )
    bn_labels = sorted(
        {
            side.name
            for t in q.template
            for side in (t.s, t.p, t.o)
            if isinstance(side, Var) and side.name.startswith("__bn")
        }
    )
    if bn_labels:
        # monotonically_increasing_id is unique per row (partition id in
        # the high bits); bnode identity only needs per-solution freshness,
        # not stability across runs — labels are existentials.  The frame
        # fans out into one union branch per template triple below, and
        # each branch would otherwise re-execute the WHERE subtree with
        # its own (shuffle-order-dependent) intra-partition row order —
        # so the ids are pinned with localCheckpoint, the same pattern as
        # the spatial-rewrite zone ids above: same-label bnodes must stay
        # connected row-wise across branches.
        frame = frame.withColumn(
            "__sol", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
    outs = []
    for t in q.template:
        cols = []
        for term in (t.s, t.p, t.o):
            if isinstance(term, Var) and term.name.startswith("__bn"):
                i = bn_labels.index(term.name)
                cols.append(
                    F.concat(
                        F.lit(f"_:c{i}v"), F.col("__sol").cast("string")
                    )
                )
            elif isinstance(term, Var):
                if term.name not in frame.columns:
                    cols = None  # variable never bound: pattern yields nothing
                    break
                cols.append(F.col(term.name).cast("string"))
            elif isinstance(term, Iri):
                cols.append(F.lit(term.iri))
            else:
                cols.append(F.lit(_term_str(term)))
        if cols is None:
            continue
        tri = frame.select(
            cols[0].alias("s"), cols[1].alias("p"), cols[2].alias("o")
        ).where(
            F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
        )
        outs.append(tri)
    if not outs:
        return spark.createDataFrame([], "s string, p string, o string")
    out = outs[0]
    for tri in outs[1:]:
        out = out.unionByName(tri)
    return out.distinct()


def _run_describe(spark: SparkSession, q: Query, model) -> DataFrame:
    """DESCRIBE: collect the resource set (constants + the WHERE
    solutions' bindings of the named variables, or every visible
    variable for ``*``), then emit each resource's subject triples as a
    distinct ``s p o`` frame.  The triples come from the model's own
    variable-predicate star (one scan on a TriplesModel, a wide-row
    explode on a PropertyTable), semi-joined to the resource set — no
    driver-side iteration over resources."""
    parts = []
    consts = [t.iri for t in q.describe_terms if isinstance(t, Iri)]
    if consts:
        parts.append(
            spark.createDataFrame([(c,) for c in consts], "n string")
        )
    if q.where is not None:
        frame, _ = _run_select(
            spark, Query(None, True, q.where, [], q.limit, q.offset), model
        )
        if q.describe_terms == ["*"]:
            dvars = list(frame.columns)
        else:
            dvars = [
                t.name
                for t in q.describe_terms
                if isinstance(t, Var) and t.name in frame.columns
            ]
        for v in dvars:
            parts.append(
                frame.select(F.col(v).cast("string").alias("n")).where(
                    F.col(v).isNotNull()
                )
            )
    if not parts:
        return spark.createDataFrame([], "s string, p string, o string")
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    res = res.distinct()
    g = Group()
    g.items.append(Triple(Var("__ds"), Var("__dp"), Var("__do")))
    tri, binds, _ = _GroupCompiler(spark, model).compile(g)
    tri = tri.select(
        F.col(binds["__ds"]).cast("string").alias("s"),
        F.col(binds["__dp"]).cast("string").alias("p"),
        F.col(binds["__do"]).cast("string").alias("o"),
    ).where(F.col("p").isNotNull() & F.col("o").isNotNull())
    return (
        tri.join(res, tri["s"] == res["n"], "left_semi").distinct()
    )


def query_service(
    spark: SparkSession,
    query: str,
    model,
    geojsonout: bool = False,
    max_rows: int = 100_000,
) -> str:
    """The reference's HTTP response shape
    (``TripleStoreConnection.java:83-186``): JSON with ``data`` = bound
    rows, ``size``, and ``geojson`` = one FeatureCollection per
    ``?*_geom`` variable (converted through the GeoJSON exporter)."""
    from .operators.geojson_sink import featurecollection_json

    # run the distributed plan ONCE: truncate to max_rows, pin the result
    # (localCheckpoint materialises without a session-lifetime cache pin),
    # then build the data rows and every *_geom FeatureCollection from it
    df = execute_query(spark, query, model).limit(max_rows).localCheckpoint(eager=True)
    rows = df.collect()
    geom_vars = [c for c in df.columns if c.endswith("_geom")]
    collections = []
    for gv in geom_vars:
        sub = df.withColumn("__wkb", REG.REGISTRY["st_geomfromtext"][0](F.col(gv)))
        fc = featurecollection_json(
            sub.drop(gv).withColumnRenamed("__wkb", gv), geom_col=gv, wkb=True, max_rows=max_rows
        )
        obj = json.loads(fc)
        obj["name"] = gv
        collections.append(obj)
    data = [
        {c: (r[c] if not isinstance(r[c], (bytes, bytearray)) else r[c].hex()) for c in df.columns}
        for r in rows
    ]
    result = {"geojson": collections, "data": data, "size": len(data)}
    return json.dumps(result) if not geojsonout else json.dumps(collections)
