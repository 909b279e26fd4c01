"""Differential fuzz over SPARQL 1.1 property paths (sparql.py).

Random small directed multigraphs (cycles, self-loops, diamonds,
disconnected nodes) × random path expressions from the supported
grammar — atoms, ``^``, ``/``, ``|``, negated property sets
``!(p|^q)``, and ``? * +`` closures over fixed-edge bodies — executed
through the distributed compiler
(TriplesModel backend: UNION desugar for ``|``, fresh-variable chains
for ``/``, the checkpointed BFS / O(log d) squaring reachability for
closures) AND through a naive Python fixpoint evaluator implementing
SPARQL 1.1 §18.4 directly.

Bag semantics are compared EXACTLY (collections.Counter): sequence
composition multiplies path counts, alternatives add them, and closure
operators yield distinct pairs (the spec's ALP algorithm), with the
zero-length identity taken over the graph's term domain
(subjects ∪ objects — TriplesModel.nodes_frame).  A diamond graph under
``p/p`` must therefore produce duplicate rows where ``(p/p)+`` must
not; endpoint shapes cover (?s ?o), constants on either side, and the
repeated-variable diagonal ``?s path ?s``.

The reference delegates paths to Jena ARQ (SURVEY §2.10); the oracle
here is the W3C algebra itself, like tests/test_sparql_fuzz.py.
"""

import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from jena_geo_spark import sparql as S

_EXAMPLES = int(os.environ.get("SPARQL_FUZZ_EXAMPLES", "0"))

NODES = [f"urn:x:{i}" for i in range(5)]
PREDS = [f"urn:p:{i}" for i in range(3)]


# ------------------------------------------------------------- path AST --


@st.composite
def nps_ast(draw):
    """Negated property set !(p|^q|…) — forward/inverse excluded sets,
    both possibly empty (``!()`` = the all-predicates forward match)."""
    fwd = tuple(sorted(draw(st.sets(st.sampled_from(PREDS), max_size=2))))
    inv = tuple(sorted(draw(st.sets(st.sampled_from(PREDS), max_size=2))))
    return ("nps", fwd, inv)


@st.composite
def fixed_edge_body(draw, depth=2):
    """A path with a fixed edge relation (no mods): atom, ^, /, |, !()."""
    if depth == 0:
        return ("atom", draw(st.sampled_from(PREDS)))
    kind = draw(st.sampled_from(["atom", "inv", "seq", "alt", "nps"]))
    if kind == "atom":
        return ("atom", draw(st.sampled_from(PREDS)))
    if kind == "nps":
        return draw(nps_ast())
    if kind == "inv":
        return ("inv", draw(fixed_edge_body(depth=depth - 1)))
    return (
        kind,
        draw(fixed_edge_body(depth=depth - 1)),
        draw(fixed_edge_body(depth=depth - 1)),
    )


@st.composite
def path_ast(draw, depth=3):
    if depth == 0:
        return ("atom", draw(st.sampled_from(PREDS)))
    kind = draw(st.sampled_from(["atom", "inv", "seq", "alt", "mod", "nps"]))
    if kind == "atom":
        return ("atom", draw(st.sampled_from(PREDS)))
    if kind == "nps":
        return draw(nps_ast())
    if kind == "inv":
        return ("inv", draw(path_ast(depth=depth - 1)))
    if kind == "mod":
        # bodies may themselves nest ? * + (the recursive _path_relation
        # route); shallow depth keeps the distributed closure tractable
        body = draw(
            st.one_of(fixed_edge_body(), path_ast(depth=min(depth - 1, 1)))
        )
        return ("mod", draw(st.sampled_from(["?", "*", "+"])), body)
    return (kind, draw(path_ast(depth=depth - 1)), draw(path_ast(depth=depth - 1)))


def render_path(p) -> str:
    k = p[0]
    if k == "atom":
        return f"<{p[1]}>"
    if k == "nps":
        members = [f"<{i}>" for i in p[1]] + [f"^<{i}>" for i in p[2]]
        return "!(" + "|".join(members) + ")"
    if k == "inv":
        return f"^({render_path(p[1])})"
    if k == "seq":
        return f"({render_path(p[1])}/{render_path(p[2])})"
    if k == "alt":
        return f"({render_path(p[1])}|{render_path(p[2])})"
    return f"({render_path(p[2])}){p[1]}"  # mod


# -------------------------------------------------------------- oracle --


def eval_path(p, edges: set[tuple[str, str, str]], terms: set[str]) -> Counter:
    """SPARQL 1.1 §18.4 path evaluation as a pair multiset."""
    k = p[0]
    if k == "atom":
        return Counter((s, o) for s, pr, o in edges if pr == p[1])
    if k == "nps":
        # §18.2.2.3: !(F|^I) ≡ alt(NPS(F), inv(NPS(I))) — bag SUM when
        # both branches are present (a self-loop matching both counts 2)
        fwd, inv = p[1], p[2]
        out: Counter = Counter()
        if fwd or not inv:
            out += Counter((s, o) for s, pr, o in edges if pr not in fwd)
        if inv:
            out += Counter((o, s) for s, pr, o in edges if pr not in inv)
        return out
    if k == "inv":
        return Counter({(o, s): c for (s, o), c in eval_path(p[1], edges, terms).items()})
    if k == "seq":
        a = eval_path(p[1], edges, terms)
        b = eval_path(p[2], edges, terms)
        by_src: dict[str, list[tuple[str, int]]] = {}
        for (s, o), c in b.items():
            by_src.setdefault(s, []).append((o, c))
        out: Counter = Counter()
        for (s, mid), c1 in a.items():
            for o, c2 in by_src.get(mid, ()):
                out[(s, o)] += c1 * c2
        return out
    if k == "alt":
        return eval_path(p[1], edges, terms) + eval_path(p[2], edges, terms)
    # mod — distinct pairs per the ALP algorithm
    mod, body = p[1], p[2]
    rel = set(eval_path(body, edges, terms))
    if mod == "?":
        return Counter(rel | {(t, t) for t in terms})
    # transitive closure by fixpoint
    clo = set(rel)
    while True:
        nxt = {(s, o2) for (s, o) in clo for (o1, o2) in rel if o == o1}
        if nxt <= clo:
            break
        clo |= nxt
    if mod == "+":
        return Counter(clo)
    return Counter(clo | {(t, t) for t in terms})


# ---------------------------------------------------------------- fuzz --


@st.composite
def path_case(draw):
    n_edges = draw(st.integers(0, 12))
    edges = set()
    for _ in range(n_edges):
        edges.add(
            (
                draw(st.sampled_from(NODES)),
                draw(st.sampled_from(PREDS)),
                draw(st.sampled_from(NODES)),
            )
        )
    p = draw(path_ast())
    shape = draw(st.sampled_from(["vv", "cv", "vc", "diag"]))
    const = draw(st.sampled_from(NODES))
    return frozenset(edges), p, shape, const


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=_EXAMPLES or 25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(path_case())
# zero-admitting sequences keep bag multiplicities: a duplicate-branch
# alternative, and a negated set matched by two predicates, each count 2
@example(case=(
    frozenset({("urn:x:0", "urn:p:0", "urn:x:0")}),
    ("seq", ("alt", ("atom", "urn:p:0"), ("atom", "urn:p:0")),
     ("mod", "?", ("atom", "urn:p:0"))),
    "vv", "urn:x:0",
))
@example(case=(
    frozenset({("urn:x:0", "urn:p:0", "urn:x:1"), ("urn:x:0", "urn:p:1", "urn:x:1")}),
    ("seq", ("nps", (), ()), ("mod", "?", ("atom", "urn:p:0"))),
    "vv", "urn:x:0",
))
def test_path_matches_w3c_algebra(spark, case):
    edges, p, shape, const = case
    terms = {s for s, _, o in edges} | {o for s, _, o in edges}
    # W3C §18.4: a closure's zero-length solution with a BOUND endpoint
    # includes that term whether or not it occurs in the graph; the
    # graph-term identity domain applies only to variable endpoints.
    if shape in ("cv", "vc"):
        terms = terms | {const}
    pairs = eval_path(p, set(edges), terms)

    if shape == "vv":
        subj, obj, proj = "?s", "?o", ["s", "o"]
        exp = Counter(pairs)
    elif shape == "cv":
        subj, obj, proj = f"<{const}>", "?o", ["o"]
        exp = Counter({(o,): c for (s, o), c in pairs.items() if s == const})
    elif shape == "vc":
        subj, obj, proj = "?s", f"<{const}>", ["s"]
        exp = Counter({(s,): c for (s, o), c in pairs.items() if o == const})
    else:  # diagonal: ?s path ?s
        subj, obj, proj = "?s", "?s", ["s"]
        exp = Counter({(s,): c for (s, o), c in pairs.items() if s == o})

    q = f"SELECT {' '.join('?' + v for v in proj)} WHERE {{ {subj} {render_path(p)} {obj} . }}"
    tm = S.TriplesModel(
        spark.createDataFrame(
            [(s, pr, o, None) for s, pr, o in sorted(edges)],
            "s string, p string, o string, dt string",
        )
    )
    out = S.execute_query(spark, q, tm)
    got = Counter(tuple(r[v] for v in proj) for r in out.collect())
    assert got == exp, q
