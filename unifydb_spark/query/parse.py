"""Query normalization: Python/EDN-style query dicts -> a typed clause AST.

Mirrors the reference's `process-where`/`process-find`/`process-bind`
normalization (src/unifydb/query.clj:301-346): patterns are padded to
5-tuples, `?x` symbols become tagged variables, bare clause lists are
implicitly `:and`-wrapped.

Python surface syntax (EDN -> Python):
 - variable            '?name'
 - wildcard            '_'
 - keyword             ':employee/age' (stored colon-stripped) or 'employee/age'
 - fact pattern        ['?e', ':name', 'Ben Bitdiddle']        (list)
 - compound            ['and'|'or'|'not', clause, ...]         (list, str head)
 - predicate           [('<', 50000, '?s')]                    (list of 1 tuple)
 - function binding    [('*', '?q', '?cost'), '?total']        (tuple + out)
 - rule application    ('lives-near', '?who', Ref(1))          (tuple clause)
 - rule definition     [('lives-near', '?a', '?b'), clause...] (head + body)
 - find element        '?x' | ('sum', '?x') | ('sum', '?x', 'alias')
                       | ('pull', '?e', [spec...])
 - sort-by             ['?age', ('sum', '?x'), ..., 'desc'?]
 - bind                {'name': 'Ben Bitdiddle'}  (reference :bind,
                       query.clj:342-346; keys with or without '?')
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Optional, Tuple

from unifydb_spark.store import norm_attr


class QueryError(ValueError):
    """Structured query error (the reference throws ex-info with :code,
    e.g. :unknown-function / :unbound-variable, query.clj:70-104)."""

    def __init__(self, code: str, message: str, **info):
        super().__init__(message)
        self.code = code
        self.info = info


@dataclass(frozen=True)
class Var:
    name: str

    def __repr__(self):
        return f"?{self.name}"


class _Wildcard:
    __slots__ = ()

    def __repr__(self):
        return "_"


WILDCARD = _Wildcard()


@dataclass(frozen=True)
class SeqPat:
    """A (possibly nested) sequence pattern in a value position, with an
    optional `& ?rest` tail (reference unify.clj:66-73; SURVEY Q9)."""

    items: Tuple[Any, ...]
    rest: Any = None  # Var, WILDCARD ('& _'), or None

    def vars(self) -> list:
        out = []
        for it in self.items:
            if isinstance(it, Var):
                out.append(it)
            elif isinstance(it, SeqPat):
                out.extend(it.vars())
        if isinstance(self.rest, Var):
            out.append(self.rest)
        return out

    def has_vars(self) -> bool:
        return bool(self.vars())

    def is_ground(self) -> bool:
        if self.rest is not None:
            return False
        for it in self.items:
            if isinstance(it, Var) or it is WILDCARD:
                return False
            if isinstance(it, SeqPat) and not it.is_ground():
                return False
        return True

    def value(self) -> list:
        """The vector a ground pattern denotes."""
        return [it.value() if isinstance(it, SeqPat) else it for it in self.items]


@dataclass(frozen=True)
class Pattern:
    """5-position fact pattern [e a v tx added?] (SURVEY Q1; reference
    pads with wildcards, query.clj:301-304)."""

    e: Any
    a: Any
    v: Any
    tx: Any
    added: Any

    @property
    def positions(self):
        return [("e", self.e), ("a", self.a), ("v", self.v),
                ("tx", self.tx), ("added", self.added)]


@dataclass(frozen=True)
class And:
    clauses: tuple


@dataclass(frozen=True)
class Or:
    clauses: tuple


@dataclass(frozen=True)
class Not:
    clause: Any  # an And of the negated clauses


@dataclass(frozen=True)
class Pred:
    fn: str
    args: tuple


@dataclass(frozen=True)
class FnBind:
    fn: str
    args: tuple
    out: Any  # Var or SeqPat


@dataclass(frozen=True)
class RuleApp:
    name: str
    args: tuple


@dataclass(frozen=True)
class Rule:
    name: str
    params: tuple
    body: Any  # And (possibly empty => axiom, reference rules.clj:3-7)


@dataclass(frozen=True)
class FindVar:
    var: Var
    alias: str


@dataclass(frozen=True)
class FindAgg:
    fn: str
    var: Any  # Var or const
    alias: str


@dataclass(frozen=True)
class FindPull:
    var: Var
    spec: tuple
    alias: str


@dataclass(frozen=True)
class ParsedQuery:
    find: tuple
    where: And
    rules: tuple
    sort_by: tuple
    sort_desc: bool
    limit: Optional[int]


AGG_FNS = {
    "sum", "min", "max", "mean", "avg", "median", "mode", "stddev",
    "count", "count-distinct", "approx-count-distinct", "distinct",
}


def parse_term(x: Any) -> Any:
    """Parse one pattern term: var / wildcard / keyword / nested seq / const."""
    if isinstance(x, Var) or isinstance(x, SeqPat) or x is WILDCARD:
        return x
    if isinstance(x, str):
        if x == "_":
            return WILDCARD
        if x.startswith("?"):
            return Var(x[1:])
        if x.startswith(":"):
            return x[1:]
        return x
    if isinstance(x, (list, tuple)):
        items, rest, it = [], None, iter(list(x))
        for el in it:
            if el == "&":
                try:
                    rest_el = next(it)
                except StopIteration:
                    raise QueryError("invalid-pattern", "'&' with no rest variable")
                rest_t = parse_term(rest_el)
                if not isinstance(rest_t, Var) and rest_t is not WILDCARD:
                    raise QueryError(
                        "invalid-pattern", "'&' must bind a variable or '_'"
                    )
                rest = rest_t
                break
            items.append(parse_term(el))
        return SeqPat(tuple(items), rest)
    return x


def _is_call(x: Any) -> bool:
    return isinstance(x, tuple)


def parse_clause(c: Any) -> Any:
    if isinstance(c, tuple):  # rule application (list clause in EDN)
        name = norm_attr(str(c[0]))
        return RuleApp(name, tuple(parse_term(a) for a in c[1:]))
    if not isinstance(c, list) or not c:
        raise QueryError("invalid-clause", f"cannot parse clause: {c!r}")
    head = c[0]
    if isinstance(head, str) and norm_attr(head) in ("and", "or", "not"):
        op = norm_attr(head)
        subs = tuple(parse_clause(x) for x in c[1:])
        if op == "and":
            return And(subs)
        if op == "or":
            return Or(subs)
        return Not(And(subs))
    if _is_call(head):
        fn = str(head[0])
        args = tuple(parse_term(a) for a in head[1:])
        if len(c) == 1:
            return Pred(fn, args)
        if len(c) == 2:
            return FnBind(fn, args, parse_term(c[1]))
        raise QueryError("invalid-clause", f"bad call clause arity: {c!r}")
    # fact pattern, padded to 5 positions (reference query.clj:301-304)
    if len(c) > 5:
        raise QueryError("invalid-pattern", f"pattern has >5 positions: {c!r}")
    terms = [parse_term(x) for x in c] + [WILDCARD] * (5 - len(c))
    e, a, v, tx, added = terms
    if isinstance(a, str):
        a = norm_attr(a)
    return Pattern(e, a, v, tx, added)


def _auto_alias(fn: str, arg: Any) -> str:
    base = arg.name if isinstance(arg, Var) else str(arg)
    return f"{fn.replace('-', '_')}_{base}".replace("/", "_")


def parse_find_element(el: Any):
    if isinstance(el, str) and el.startswith("?"):
        v = Var(el[1:])
        return FindVar(v, v.name.replace("/", "_").replace("-", "_"))
    if isinstance(el, Var):
        return FindVar(el, el.name.replace("/", "_").replace("-", "_"))
    if isinstance(el, tuple) and el:
        fn = norm_attr(str(el[0]))
        if fn == "pull":
            var = parse_term(el[1])
            alias = el[3] if len(el) > 3 else f"pull_{var.name}"
            return FindPull(var, tuple(el[2]), alias)
        if fn in AGG_FNS:
            arg = parse_term(el[1]) if len(el) > 1 else None
            alias = el[2] if len(el) > 2 else _auto_alias(fn, arg)
            return FindAgg(fn, arg, alias)
        raise QueryError(
            "unknown-aggregation",
            f"Unknown aggregation expression {fn}",  # reference query.clj:374-378
            aggregation=fn,
        )
    raise QueryError("invalid-find", f"cannot parse find element: {el!r}")


def parse_rules(rules: Any) -> tuple:
    out = []
    for r in rules or ():
        head = r[0]
        if not _is_call(head):
            raise QueryError("invalid-rule", f"rule head must be a tuple: {r!r}")
        name = norm_attr(str(head[0]))
        params = tuple(parse_term(a) for a in head[1:])
        body = And(tuple(parse_clause(c) for c in r[1:]))
        out.append(Rule(name, params, body))
    return tuple(out)


def substitute(clause: Any, bind: dict) -> Any:
    """Apply :bind parameterization by literal substitution (reference seeds
    the initial frame, query.clj:342-346, :503 — same semantics, but constant
    substitution lets Catalyst push the values into scans)."""
    if isinstance(clause, Var):
        return bind.get(clause, clause)
    if isinstance(clause, SeqPat):
        return SeqPat(
            tuple(substitute(i, bind) for i in clause.items),
            clause.rest if clause.rest not in bind else clause.rest,
        )
    if isinstance(clause, Pattern):
        return Pattern(*(substitute(t, bind) for _, t in clause.positions))
    if isinstance(clause, And):
        return And(tuple(substitute(c, bind) for c in clause.clauses))
    if isinstance(clause, Or):
        return Or(tuple(substitute(c, bind) for c in clause.clauses))
    if isinstance(clause, Not):
        return Not(substitute(clause.clause, bind))
    if isinstance(clause, Pred):
        return Pred(clause.fn, tuple(substitute(a, bind) for a in clause.args))
    if isinstance(clause, FnBind):
        return FnBind(
            clause.fn,
            tuple(substitute(a, bind) for a in clause.args),
            substitute(clause.out, bind),
        )
    if isinstance(clause, RuleApp):
        return RuleApp(clause.name, tuple(substitute(a, bind) for a in clause.args))
    return clause


def parse_query(q: dict) -> ParsedQuery:
    if "find" not in q or "where" not in q:
        raise QueryError("invalid-query", "query needs :find and :where")
    find = tuple(parse_find_element(el) for el in q["find"])
    where = And(tuple(parse_clause(c) for c in q["where"]))
    rules = parse_rules(q.get("rules"))
    bind_raw = q.get("bind") or {}
    bind = {Var(k.lstrip("?")): v for k, v in bind_raw.items()}
    if bind:
        where = substitute(where, bind)
        rules = tuple(
            Rule(r.name, r.params, substitute(r.body, bind)) for r in rules
        )
        find = tuple(
            FindVar(f.var, f.alias) if isinstance(f, FindVar) else f for f in find
        )
    sort_by = []
    sort_desc = False
    sort_spec = q.get("sort-by", q.get("sort_by", ())) or ()
    if isinstance(sort_spec, str) or (isinstance(sort_spec, tuple) and sort_spec):
        # single element, e.g. '?age' or ('min', '?age')
        sort_spec = [sort_spec]
    for el in sort_spec:
        if isinstance(el, str) and norm_attr(el) == "desc":
            sort_desc = True
            continue
        sort_by.append(parse_find_element(el))
    limit = q.get("limit")
    return ParsedQuery(find, where, rules, tuple(sort_by), sort_desc, limit)
