"""Rule application (SURVEY Q7): Datalog rules as views, with recursion via
semi-naive fixpoint iteration.

The reference unifies the query against each rule conclusion after gensym
α-renaming, then evaluates the rule body (apply-rules
src/unifydb/query.clj:238-274; bodiless rules are axioms, rules.clj:3-7).
It has no recursion guard — cyclic data would loop forever (noted TODO
query.clj:271). Here:

 - non-recursive rules expand inline as view subplans (one UNION branch per
   matching rule) so Catalyst optimizes through them;
 - recursive rule sets (detected per strongly-connected component of the
   rule call graph) run as a driver-side **semi-naive fixpoint**: only the
   last iteration's delta feeds the recursive branches, new tuples are
   anti-joined against the accumulated total, and `iterate.checkpoint`
   cuts the growing plan lineage each round (SURVEY §4 custom-work item
   1). One loop (`_semi_naive`) runs both the fixpoint and its magic-sets
   demand seeding; an iteration cap guards non-termination on
   pathological rules.

Every term pair of a call and a rule conclusion unifies the way a fact
pattern does: a constant on either side (call argument, head parameter,
axiom argument, magic-set seed) is `values.encode_const`'s column and
repr, compared through `unify_condition`, so `1`, `1.0`, `true` and
`Ref(1)` stay distinct and a vector or nil constant works everywhere.

Scale notes: the fixpoint's per-iteration work is distinct+anti-join on the
IDB key columns — both shuffle on the same keys, so AQE coalesces them; the
delta shrinks monotonically. Recursion through :not (unstratified negation)
is rejected at compile time.
"""

from __future__ import annotations

import itertools
from typing import Optional

from pyspark.sql import functions as F

from unifydb_spark import instrument, iterate
from unifydb_spark.query import compile as C
from unifydb_spark.values import encode_const
from unifydb_spark.query.parse import (
    And,
    FnBind,
    Not,
    Or,
    Pattern,
    Pred,
    QueryError,
    Rule,
    RuleApp,
    SeqPat,
    Var,
    WILDCARD,
)

_FRESH = itertools.count()

MAX_ITERATIONS = 100


class RulesEnv:
    def __init__(self, rules: tuple, max_iterations: int = MAX_ITERATIONS):
        self.by_name: dict[str, list[Rule]] = {}
        for r in rules or ():
            self.by_name.setdefault(r.name, []).append(r)
        self.overlays: dict[str, C.Rel] = {}
        self.max_iterations = max_iterations
        # transitive closure of the rule call graph: name -> names it reaches
        reach = {
            n: set().union(*(self._called(r.body) for r in rs)) & set(self.by_name)
            for n, rs in self.by_name.items()
        }
        changed = True
        while changed:
            changed = False
            for n in reach:
                ext = set().union(*(reach.get(m, set()) for m in reach[n]))
                if not ext <= reach[n]:
                    reach[n] |= ext
                    changed = True
        self._reach = reach
        # a name is recursive if it reaches itself
        self._recursive_names = {n for n in reach if n in reach[n]}

    def _called(self, clause) -> set:
        if isinstance(clause, RuleApp):
            return {clause.name}
        if isinstance(clause, (And, Or)):
            out: set = set()
            for c in clause.clauses:
                out |= self._called(c)
            return out
        if isinstance(clause, Not):
            return self._called(clause.clause)
        return set()

    def scc_of(self, name: str) -> set:
        # mutually-recursive group: names that reach each other
        reach = self._reach
        return {m for m in reach.get(name, set()) | {name}
                if name in reach.get(m, set()) and m in reach.get(name, set())}


def _rename_term(t, mapping):
    if isinstance(t, Var):
        if t.name not in mapping:
            mapping[t.name] = f"{t.name}__r{next(_FRESH)}"
        return Var(mapping[t.name])
    if isinstance(t, SeqPat):
        return SeqPat(
            tuple(_rename_term(i, mapping) for i in t.items),
            _rename_term(t.rest, mapping) if t.rest else None,
        )
    return t


def _rename_clause(c, mapping):
    """Gensym α-renaming (reference rename-vars, query.clj:238-258)."""
    if isinstance(c, Pattern):
        return Pattern(*(_rename_term(t, mapping) for _, t in c.positions))
    if isinstance(c, And):
        return And(tuple(_rename_clause(x, mapping) for x in c.clauses))
    if isinstance(c, Or):
        return Or(tuple(_rename_clause(x, mapping) for x in c.clauses))
    if isinstance(c, Not):
        return Not(_rename_clause(c.clause, mapping))
    if isinstance(c, Pred):
        return Pred(c.fn, tuple(_rename_term(a, mapping) for a in c.args))
    if isinstance(c, FnBind):
        return FnBind(
            c.fn,
            tuple(_rename_term(a, mapping) for a in c.args),
            _rename_term(c.out, mapping),
        )
    if isinstance(c, RuleApp):
        return RuleApp(c.name, tuple(_rename_term(a, mapping) for a in c.args))
    return c


def _adapt(rel: C.Rel, params: tuple, args: tuple) -> C.Rel:
    """Unify a rule-result relation (columns = head params) with the
    call-site argument terms (reference unify of query against rule
    conclusion, query.clj:260-274). A head constant and a call constant
    are both `encode_const` columns, so every pair of terms unifies the
    way a fact pattern does (`unify_condition`)."""
    out_vars: dict[str, str] = {}
    select = []
    conds = []
    seen_args: dict[str, tuple] = {}
    for param, arg in zip(params, args):
        if not isinstance(param, Var):
            side = encode_const(param)
        elif param.name in rel.vars:
            side = (C.bt(param.name), rel.vars[param.name])
        else:
            raise QueryError(
                "unbound-variable",
                f"rule head variable ?{param.name} is never bound in the body",
            )
        if arg is WILDCARD:
            continue
        if not isinstance(arg, Var):
            other = encode_const(arg)
        elif arg.name in seen_args:  # repeated call arg: (r ?x ?x)
            other = seen_args[arg.name]
        else:
            seen_args[arg.name] = side
            select.append(side[0].alias(arg.name))
            out_vars[arg.name] = side[1]
            continue
        cond = C.unify_condition(*side, *other)
        conds.append(cond if cond is not None else F.lit(False))
    df = rel.df
    for c in conds:
        df = df.filter(c)
    if not select:
        # fully-ground call: keep a 1-row-iff-derivable marker relation
        df = df.select(F.lit(1).alias(f"__t{next(_FRESH)}")).limit(1)
        return C.Rel(df, {})
    return C.Rel(df.select(*select), out_vars)


def _expand_rule(db, rule: Rule, env: "RulesEnv") -> tuple:
    """α-rename and compile one rule body; returns (renamed params, Rel)."""
    mapping: dict[str, str] = {}
    params = tuple(_rename_term(p, mapping) for p in rule.params)
    body = _rename_clause(rule.body, mapping)
    if not body.clauses:  # axiom (reference rules.clj:3-7, :always-true)
        raise QueryError(
            "invalid-rule",
            "axioms (bodiless rules) require ground call arguments",
        )
    try:
        rel = C.compile_where(db, body, env)
    except QueryError as e:
        # de-gensym the variable in unbound errors: a rule body must bind
        # every variable its clauses consume with its OWN generators (the
        # reference evaluates bodies the same way, query.clj:260-274);
        # a param bound only at the call site (e.g. a table-fn key) is
        # reported under its source name, not the α-renamed one
        var = e.info.get("variable")
        inv = {v: k for k, v in mapping.items()}
        if var in inv:
            raise QueryError(
                e.code,
                f"rule {rule.name}: ?{inv[var]} is not bound by the rule "
                "body's own clauses (call-site bindings do not flow into "
                "non-pattern body clauses)",
                variable=inv[var],
                rule=rule.name,
            ) from e
        raise
    return params, rel


def _axiom_rel(db, rule: Rule, app: RuleApp) -> C.Rel:
    """Bodiless rule (reference rules.clj:3-7): one row holding each head
    variable's value from the call's constants, unified with the call
    like any rule conclusion (`_adapt`), so the row survives iff the call
    args unify with the head params."""
    pairs = [(p, a) for p, a in zip(rule.params, app.args) if a is not WILDCARD]
    values: dict[str, tuple] = {}
    for param, arg in pairs:
        if isinstance(param, Var) and not isinstance(arg, Var):
            values.setdefault(param.name, encode_const(arg))
    for param, arg in pairs:
        if isinstance(param, Var) and param.name not in values:
            raise QueryError(
                "unbound-variable", f"axiom call leaves ?{arg.name} unbound"
            )
    df = db.store.spark.range(1).select(
        *[c.alias(n) for n, (c, _) in values.items()]
    )
    rel = C.Rel(df, {n: r for n, (_, r) in values.items()})
    return _adapt(rel, tuple(p for p, _ in pairs), tuple(a for _, a in pairs))


def compile_rule_app(db, app: RuleApp, env: Optional["RulesEnv"]) -> C.Rel:
    if env is not None and app.name in env.overlays:
        ov = env.overlays[app.name]
        params = tuple(Var(n) for n in ov.vars)
        return _adapt(ov, params, app.args)
    if env is None or app.name not in env.by_name:
        raise QueryError("unknown-rule", f"Unknown rule {app.name}", rule=app.name)
    if app.name in env._recursive_names:
        idb = _fixpoint(db, app.name, env, seed_args=app.args)
        params = tuple(Var(n) for n in idb.vars)
        return _adapt(idb, params, app.args)
    rels = []
    for rule in env.by_name[app.name]:
        if not rule.body.clauses:
            rels.append(_axiom_rel(db, rule, app))
            continue
        params, rel = _expand_rule(db, rule, env)
        rels.append(_adapt(rel, params, app.args))
    return C.align_union(rels)


def _positional(db, rule: Rule, env: "RulesEnv") -> C.Rel:
    """Compile one rule branch into the IDB's positional schema
    (__p0..__pk)."""
    params, rel = _expand_rule(db, rule, env)
    args = tuple(Var(f"__p{i}") for i in range(len(params)))
    return _adapt(rel, params, args)


def _contains_scc_call(env: "RulesEnv", clause, scc: set, under_not=False) -> bool:
    if isinstance(clause, RuleApp):
        if clause.name in scc:
            if under_not:
                raise QueryError(
                    "unstratified-negation",
                    f"recursive rule {clause.name} used inside :not",
                )
            return True
        return False
    if isinstance(clause, (And, Or)):
        return any(_contains_scc_call(env, c, scc, under_not) for c in clause.clauses)
    if isinstance(clause, Not):
        return _contains_scc_call(env, clause.clause, scc, True)
    return False


def _magic_positions(app_args: tuple) -> list[int]:
    """Call-site adornment: positions bound to constants."""
    return [
        i
        for i, a in enumerate(app_args or ())
        if not isinstance(a, Var) and a is not WILDCARD
    ]


def _magic_seed(db, name: str, env: "RulesEnv", scc: set, app_args) -> Optional[tuple]:
    """Magic-sets demand seeding (the classic supplementary-magic
    transformation, restricted to the shapes this engine can prove sound):
    when the call site fixes some argument positions, compute the set of
    bound-position value tuples any relevant derivation can demand — the
    *magic relation* M — and let `_fixpoint` restrict every derived tuple
    to M. The reference gets this pruning for free from per-frame
    evaluation (reference apply-rules, src/unifydb/query.clj:238-274,
    evaluates rule bodies against the caller's already-restricted frames);
    a set-at-a-time fixpoint must reconstruct the demand set explicitly.

    Returns (bound_positions, magic Rel with vars __m{i}) or None to fall
    back to the full closure. Soundness of the fallback conditions:

    - single-rule-name SCC only (mutual recursion would need per-name
      adornments);
    - every recursive call sits at the TOP level of its branch's And
      (not under :or — a disjunctive context changes what binds what);
    - the non-recursive REST of each branch must bind the head's bound
      vars and every recursive call's bound-position vars within ONE
      var-connected component (otherwise the demand propagation is
      unbounded and the magic set degenerates to everything).

    M is an over-approximation of the true demand set (the rest-clauses
    step relation drops the recursive subgoal's own restriction), which
    is exactly what magic sets require: restricting to a SUPERSET of the
    demanded tuples never loses an answer; the call-site `_adapt` filter
    still applies the exact constants at the end."""
    bound = _magic_positions(app_args)
    if not bound or len(scc) != 1:
        return None
    steps = []  # (step Rel: vars __m{i} -> __c{i}) per (branch, rec-call)
    for rule in env.by_name[name]:
        if not rule.body.clauses:
            return None
        mapping: dict[str, str] = {}
        params = tuple(_rename_term(p, mapping) for p in rule.params)
        body = _rename_clause(rule.body, mapping)
        if not _contains_scc_call(env, body, scc):
            continue  # base branch: no demand propagation
        rec_calls = [
            c for c in body.clauses if isinstance(c, RuleApp) and c.name in scc
        ]
        rest = [
            c
            for c in body.clauses
            if not (isinstance(c, RuleApp) and c.name in scc)
        ]
        # nested SCC calls (under :or inside this body) -> fall back
        if not rec_calls or not rest or any(
            _contains_scc_call(env, c, scc) for c in rest
        ):
            return None
        head_bound = []
        for i in bound:
            if not isinstance(params[i], Var):
                return None
            head_bound.append(params[i].name)
        # var-connected components over the non-recursive clauses: demand
        # must flow head-bound -> call-bound through rest, or M is unbounded
        comps: list[set] = []
        for c in rest:
            vs = C._clause_vars(c)
            merged = set(vs)
            keep = []
            for comp in comps:
                if comp & vs:
                    merged |= comp
                else:
                    keep.append(comp)
            comps = keep + [merged]

        def _component_of(v: str) -> set:
            return next((comp for comp in comps if v in comp), set())

        # classify each (call, bound slot): 'pass' (the call re-uses the
        # head's own bound var — demand flows through unchanged), 'var'
        # (demand steps through the rest clauses), or a constant
        call_slots = []
        for call in rec_calls:
            slots = []
            for k, i in enumerate(bound):
                a = call.args[i]
                if a is WILDCARD:
                    return None
                if isinstance(a, Var) and a.name == head_bound[k]:
                    slots.append(("pass", None))
                elif isinstance(a, Var):
                    slots.append(("var", a.name))
                else:
                    slots.append(("const", a))
            if all(s[0] == "pass" for s in slots):
                continue  # identity step contributes nothing new
            call_slots.append(slots)
        if not call_slots:
            continue  # all demand passes through: M stays at the seed
        rel = C.compile_where(db, And(tuple(rest)), env)
        # join columns: head-bound vars the rest clauses actually bind
        join_ks = [
            k for k, hv in enumerate(head_bound) if hv in rel.vars
        ]
        for slots in call_slots:
            stepped = [s[1] for s in slots if s[0] == "var"]
            if stepped:
                if not join_ks:
                    return None  # demand can't constrain the step: unbounded
                anchor = set().union(
                    *(_component_of(head_bound[k]) for k in join_ks)
                )
                for v in stepped:
                    if v not in rel.vars or v not in anchor:
                        return None
            sel, vars_out = [], {}
            for k in join_ks:
                sel.append(C.bt(head_bound[k]).alias(f"__m{k}"))
                vars_out[f"__m{k}"] = rel.vars[head_bound[k]]
            for k, (kind, a) in enumerate(slots):
                if kind == "var":
                    sel.append(C.bt(a).alias(f"__c{k}"))
                    vars_out[f"__c{k}"] = rel.vars[a]
                elif kind == "const":
                    c, vars_out[f"__c{k}"] = encode_const(a)
                    sel.append(c.alias(f"__c{k}"))
                # 'pass' slots carry the delta's own __m{k} through the join
            steps.append(
                (
                    C.Rel(rel.df.select(*sel).distinct(), vars_out),
                    [s[0] for s in slots],
                )
            )
    # seed M from the call-site constants
    spark = db.store.spark
    seed_cols, seed_vars = [], {}
    for k, i in enumerate(bound):
        c, seed_vars[f"__m{k}"] = encode_const(app_args[i])
        seed_cols.append(c.alias(f"__m{k}"))
    total = C.Rel(
        spark.range(1).select(*seed_cols).localCheckpoint(eager=True), seed_vars
    )
    if not steps:
        # every recursive call re-uses the head's bound vars verbatim:
        # demand never grows beyond the call-site constants
        instrument.note("rule_magic_rounds", 0)
        instrument.note("rule_magic_size", 1)
        return bound, total
    # The step relations are ROUND-INVARIANT projections of the EDB
    # (rest-clauses join -> select -> distinct). Checkpoint each ONCE at
    # the session shuffle width, before any frontier narrowing: (a) the
    # full-EDB distinct no longer re-executes every round, and (b) it can
    # never be planned inside a narrowed round. The observed step sizes
    # fold into the per-round row bound so it bounds shuffle INPUT size,
    # not just frontier rows (round-14 ADVICE, medium).
    ckpt_steps, max_step_rows = [], 0
    for step, kinds in steps:
        df, n = iterate.checkpoint(step.df)
        max_step_rows = max(max_step_rows, n)
        ckpt_steps.append((C.Rel(df, dict(step.vars)), kinds))

    def advance(_name, deltas):
        delta = deltas[name]
        produced = []
        for step, kinds in ckpt_steps:
            nxt = C.join_rels(delta, step, "inner")
            sel, vars_out = [], {}
            for k, kind in enumerate(kinds):
                if kind == "pass":  # delta's own value flows through
                    sel.append(C.bt(f"__m{k}"))
                    vars_out[f"__m{k}"] = delta.vars[f"__m{k}"]
                else:
                    sel.append(C.bt(f"__c{k}").alias(f"__m{k}"))
                    vars_out[f"__m{k}"] = step.vars[f"__c{k}"]
            produced.append(C.Rel(nxt.df.select(*sel), vars_out))
        return C.align_union(produced)

    totals = {name: total}
    # the seed row plus the largest step relation bound the first round
    rounds, fresh_rows, closed = _semi_naive(
        totals, advance, 1 + max_step_rows, env.max_iterations
    )
    if not closed:
        return None  # demand set did not close — fall back to the full closure
    instrument.note("rule_magic_rounds", rounds)
    # the total is the seed row UNION ALL each (disjoint) observed delta
    instrument.note("rule_magic_size", 1 + fresh_rows)
    return bound, totals[name]


def _semi_naive(totals: dict, advance, rows: Optional[int], max_rounds: int) -> tuple:
    """Semi-naive rounds over `totals` ({name: checkpointed Rel}), which
    are advanced in place. Each round, name by name, `advance(name,
    deltas)` derives candidate tuples from the previous round's deltas;
    the distinct candidates not yet in the name's total are checkpointed
    (`iterate.checkpoint`, sized by `rows`: observed rows that bound every
    shuffle input of a round, None when unknown), observed, and unioned
    into the total. A round that finds nothing new closes the loop.

    Returns (rounds, fresh rows over all rounds, closed); closed is False
    when `max_rounds` rounds ran without closing."""
    deltas = dict(totals)
    fresh_rows = 0
    for rnd in range(1, max_rounds + 1):
        new_deltas: dict[str, C.Rel] = {}
        round_rows = 0
        for n in totals:
            produced = advance(n, deltas)
            fresh = C.join_rels(
                C.Rel(produced.df.distinct(), dict(produced.vars)),
                totals[n],
                "left_anti",
            )
            fresh_df, cnt = iterate.checkpoint(fresh.df, rows)
            round_rows += cnt
            if rows is not None:
                rows += cnt
            if cnt > 0:
                new_deltas[n] = C.Rel(fresh_df, dict(fresh.vars))
                # keep the total LAZY: both inputs are already checkpointed
                # (the total's blocks, each delta above), so the union is a
                # scan of materialized blocks — eagerly re-checkpointing it
                # here would rewrite the whole accumulated total every
                # round (quadratic materialization in the fixpoint size)
                totals[n] = C.align_union([totals[n], new_deltas[n]])
            else:
                new_deltas[n] = C.Rel(fresh_df.limit(0), dict(fresh.vars))
        fresh_rows += round_rows
        if round_rows == 0:
            return rnd, fresh_rows, True
        deltas = new_deltas
    return max_rounds, fresh_rows, False


def _restrict_to_magic(rel: C.Rel, magic: Optional[tuple]) -> C.Rel:
    """Semi-join a positional IDB relation (__p0..__pk) to the magic
    relation on the bound positions — tuples outside the demand set can
    never contribute to the seeded call's answer."""
    if magic is None:
        return rel
    bound, m = magic
    renamed = C.Rel(
        m.df.select(
            *[C.bt(f"__m{k}").alias(f"__p{i}") for k, i in enumerate(bound)]
        ),
        {f"__p{i}": m.vars[f"__m{k}"] for k, i in enumerate(bound)},
    )
    return C.join_rels(rel, renamed, "left_semi")


def _fixpoint(db, name: str, env: "RulesEnv", seed_args=None) -> C.Rel:
    """Semi-naive least-fixpoint evaluation of the SCC containing `name`.

    With `seed_args` (the call site's argument terms), constant-bound
    positions seed a magic-sets demand relation (`_magic_seed`) and every
    derivation is semi-joined to it — the frontier is then proportional
    to the call's REACHABLE set, not the full closure (VERDICT r8 ask #8;
    counters: rule_magic_size, rule_fixpoint_delta_rows)."""
    scc = env.scc_of(name)
    base: dict[str, list] = {n: [] for n in scc}
    rec: dict[str, list] = {n: [] for n in scc}
    for n in scc:
        for rule in env.by_name[n]:
            if not rule.body.clauses:
                raise QueryError("invalid-rule", "axiom inside a recursive rule set")
            (rec if _contains_scc_call(env, rule.body, scc) else base)[n].append(rule)

    magic = None
    if seed_args is not None and _magic_positions(seed_args):
        try:
            magic = _magic_seed(db, name, env, scc, seed_args)
        except QueryError:
            # anything the demand analysis can't compile (e.g. :not over a
            # call-bound var in the rest clauses) falls back to the full
            # closure — the main fixpoint surfaces genuinely invalid rules
            magic = None

    totals: dict[str, C.Rel] = {}
    base_rows: dict[str, int] = {}
    for n in scc:
        if not base[n]:
            raise QueryError(
                "invalid-rule", f"recursive rule {n} has no non-recursive branch"
            )
        r = C.align_union([_positional(db, rule, env) for rule in base[n]])
        r = _restrict_to_magic(r, magic)
        df, base_rows[n] = iterate.checkpoint(r.df.distinct())
        totals[n] = C.Rel(df, dict(r.vars))

    def advance(n, deltas):
        # recursive branches see the previous delta for SCC calls
        env.overlays.update(deltas)
        try:
            produced = C.align_union([_positional(db, rule, env) for rule in rec[n]])
        finally:
            for m in scc:
                env.overlays.pop(m, None)
        return _restrict_to_magic(produced, magic)

    # row bound: exact for single-member SCCs (the observed base + every
    # observed delta = every row any round's plan can hold); multi-member
    # SCCs leave it unknown, so their rounds keep the session shuffle width
    rows = base_rows[name] if len(scc) == 1 else None
    rounds, fresh_rows, closed = _semi_naive(totals, advance, rows, env.max_iterations)
    instrument.bump("rule_fixpoint_delta_rows", base_rows[name] + fresh_rows)
    instrument.note("rule_fixpoint_rounds", rounds)
    if not closed:
        raise QueryError(
            "fixpoint-divergence",
            f"rule {name} did not reach a fixpoint in {env.max_iterations} iterations",
        )
    return totals[name]
