"""Compiler: AST → DataFrame.

Collapses the reference's bind/encode/compile stages (reference:
src/htsql/core/tr/bind.py::bind, src/htsql/core/tr/encode.py::encode,
src/htsql/core/tr/compile.py::compile) into a single evaluation pass
that resolves names against the declared catalog and immediately
builds the DataFrame plan.  Catalyst then owns every optimization the
reference performs on its SQL output (filter merging, column pruning,
subquery collapse — SURVEY.md §5), so no separate rewrite stage
exists here.

Key lowering strategies (all declarative — Catalyst/AQE pick the
physical join/agg algorithms):

* singular link     → memoized LEFT JOIN, broadcast-hinted for
                      fixed-size dims (region/nation)
* plural link       → fresh sub-flow correlated on the link columns
* aggregate         → sub-flow ``groupBy(corr).agg`` + LEFT JOIN back
                      (grouped join, never a correlated subquery)
* uncorrelated agg  → 1-row ``agg`` + broadcast cross join (fork()/@)
* quotient ``^``    → ``select(kernel).distinct()``; complement aggs
                      group the base flow by the kernel (null-safe)
* clipped flow      → per-parent ``row_number`` window / global
                      ``orderBy().limit()`` (TakeOrderedAndProject)
* nested segment    → ``collect_list(struct)`` + ``array_sort`` with
                      comparator + LEFT JOIN back
"""

from __future__ import annotations

import decimal
import functools
import importlib
import math
import re
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import functions as fnlib
from .ir import CompileError, Flow, FlowV, Scalar, ScopeRef
from .syntax import nodes as N


def hint_of(node: N.Node) -> str:
    """Derive an output header from syntax (reference:
    src/htsql/core/tr/decorate.py::decorate)."""
    if isinstance(node, N.Identifier):
        return node.name
    if isinstance(node, N.Compose):
        return hint_of(node.op)
    if isinstance(node, N.Apply):
        return node.name
    if isinstance(node, N.Literal):
        return str(node.value)
    if isinstance(node, (N.Direction,)):
        return hint_of(node.expr)
    if isinstance(node, N.Wildcard):
        return "*"
    if isinstance(node, N.Complement):
        return "^"
    if isinstance(node, N.Segment) and node.op is not None:
        return hint_of(node.op)
    if isinstance(node, N.Sieve):
        return hint_of(node.base)
    if isinstance(node, N.Quotient):
        return hint_of(node.kernel)
    if isinstance(node, N.Reference):
        return node.name
    return "expr"


class NamespaceRef:
    """A namespace named at home scope (reference: SchemaEntity) —
    only valid as the left side of ``ns.table`` composition."""

    def __init__(self, name: str):
        self.name = name
        self.hint = name


class RefValue:
    """A $reference evaluated EAGERLY in its definition scope
    (reference: src/htsql/core/tr/lookup.py::lookup_reference —
    references denote the *value at the definition site*, never a
    re-binding in the scope where they are used).  The value is
    materialized as a column on the defining flow; cross-flow uses
    inject it into the sub-flow (see Compiler._inject_refs)."""

    __slots__ = ("colname", "flow", "hint")

    def __init__(self, colname: str, flow, hint: str):
        self.colname = colname
        self.flow = flow
        self.hint = hint


class Ctx:
    """Lexical environment: define()d names and $references
    (reference: src/htsql/core/tr/lookup.py::lookup)."""

    def __init__(self, names=None, refs=None, prepared=None):
        self.names: dict[str, N.Node] = names or {}
        # $name → RefValue (eager) or raw AST (legacy lazy fallback)
        self.refs: dict[str, object] = refs or {}
        # pre-computed (batched) aggregate results, keyed by id(ast node)
        self.prepared: dict[int, Scalar] = prepared if prepared is not None else {}

    def child(self) -> "Ctx":
        return Ctx(dict(self.names), dict(self.refs), self.prepared)


class Compiler:
    def __init__(self, engine):
        self.engine = engine

    # ------------------------------------------------------------------
    # entry
    # ------------------------------------------------------------------
    def compile_query(self, node: N.Node) -> DataFrame:
        ctx = Ctx()
        home = self.engine.home_flow()
        scope = ScopeRef(home, "", None)
        if isinstance(node, N.Segment):
            if node.op is None:
                raise CompileError("empty segment")
            node = node.op
        val = self.eval(ctx, scope, node)
        return self.finalize(val, scope)

    def finalize(self, val, scope: ScopeRef) -> DataFrame:
        if isinstance(val, Scalar):
            return scope.flow.df.select(val.col.alias(val.hint))
        if isinstance(val, ScopeRef):
            val = FlowV(val.flow, hint=val.hint)
            val.flow.alias, val.flow.table = scope.alias, scope.table
        if isinstance(val, FlowV):
            flow = val.flow
            if val.value is not None and flow.output is None:
                tmp = self.engine.fresh("__v")
                flow.df = flow.df.withColumn(tmp, val.value)
                flow.output = [(val.hint, tmp)]
            out = flow.output or self.default_output(flow)
            df = flow.df
            if flow.order and (
                flow.explicit_order or getattr(self.engine, "ordered", False)
            ):
                df = df.orderBy(*order_cols(flow.order))
            return df.select(*[F.col(c).alias(n) for n, c in out])
        raise CompileError(f"cannot produce output from {type(val).__name__}")

    def default_output(self, flow: Flow) -> list[tuple[str, str]]:
        if flow.kernel is not None:
            return [(n, c) for n, c in flow.kernel]
        if flow.table is not None:
            return [(c, flow.scope_col(c)) for c in flow.table.columns]
        raise CompileError("no output columns in scope")

    # ------------------------------------------------------------------
    # evaluation
    # ------------------------------------------------------------------
    def eval(self, ctx: Ctx, scope: ScopeRef, node: N.Node):
        if ctx.prepared and id(node) in ctx.prepared:
            return ctx.prepared[id(node)]
        if isinstance(node, N.Literal):
            return Scalar(literal_col(node), hint_of(node))
        if isinstance(node, N.Identifier):
            return self.resolve_name(ctx, scope, node.name)
        if isinstance(node, N.Reference):
            if node.name not in ctx.refs:
                raise CompileError(f"unknown reference ${node.name}")
            rv = ctx.refs[node.name]
            if isinstance(rv, RefValue):
                if rv.colname not in scope.flow.df.columns:
                    raise CompileError(
                        f"reference ${node.name} is defined on another flow"
                        " and was not injected here (use it inside the"
                        " sub-flow's sieve/selection)"
                    )
                return Scalar(F.col(rv.colname), "$" + node.name)
            return self.eval(ctx, scope, rv)
        if isinstance(node, N.Compose):
            base = self.eval(ctx, scope, node.base)
            return self.eval_member(ctx, base, node.op)
        if isinstance(node, N.Apply):
            return self.apply_function(ctx, scope, node.name, node.args)
        if isinstance(node, N.Operator):
            return self.eval_operator(ctx, scope, node)
        if isinstance(node, N.Unary):
            return self.eval_unary(ctx, scope, node)
        if isinstance(node, N.Sieve):
            base = self.eval(ctx, scope, node.base)
            return self.apply_sieve(ctx, scope, base, node.predicate)
        if isinstance(node, N.Quotient):
            base = self.eval(ctx, scope, node.base)
            return self.make_quotient(ctx, scope, base, node.kernel)
        if isinstance(node, N.Selection):
            if node.base is None:
                if scope.flow.is_home:
                    # home selection /{...}: one row of scalars —
                    # aggregates over home-scope flows become global
                    # (broadcast) aggregates (TPC-H Q6 shape)
                    v = FlowV(scope.flow, hint="home")
                    return self.apply_selection(ctx, scope, v, node.items)
                raise CompileError("bare record {…} is only allowed as a kernel or in comparisons")
            base = self.eval(ctx, scope, node.base)
            return self.apply_selection(ctx, scope, base, node.items)
        if isinstance(node, N.Locate):
            base = self.eval(ctx, scope, node.base)
            return self.apply_locate(ctx, scope, base, node.identity)
        if isinstance(node, N.Detach):
            home = self.engine.home_flow()
            hscope = ScopeRef(home, "", None)
            # child ctx: define()s inside @(...) stay detached too
            v = self.eval(ctx.child(), hscope, node.op)
            if isinstance(v, Scalar):
                return v  # literal-ish: usable anywhere
            if isinstance(v, FlowV):
                v.hint = "@" + v.hint
                return v
            raise CompileError("@ must detach a flow or scalar")
        if isinstance(node, N.Segment):
            if node.op is None:
                raise CompileError("empty nested segment")
            v = self.eval(ctx, scope, node.op)
            if isinstance(v, ScopeRef):
                raise CompileError("nested segment must be plural")
            return v
        if isinstance(node, N.Complement):
            return self.resolve_complement(scope)
        if isinstance(node, N.Wildcard):
            return self.resolve_wildcard(ctx, scope, node)
        if isinstance(node, N.Direction):
            v = self.eval(ctx, scope, node.expr)
            return v  # direction handled by selection/sort; bare use = no-op
        if isinstance(node, N.Assignment):
            raise CompileError("assignment only allowed in selections / define() / given()")
        raise CompileError(f"cannot evaluate node {type(node).__name__}")

    # -- name resolution ----------------------------------------------
    def resolve_name(self, ctx: Ctx, scope: ScopeRef, name: str):
        flow, alias, table = scope.flow, scope.alias, scope.table
        # quotient scope: kernel attributes shadow defines — a define
        # from the pre-quotient scope (e.g. cnt := count(orders)) is
        # re-bindable only through '^', while the kernel exports the
        # projected value under the same name (reference:
        # space.py::KernelUnit takes precedence after projection)
        if table is None and flow.kernel is not None:
            for kname, kcol in flow.kernel:
                if kname == name:
                    return Scalar(F.col(kcol), name)
        if name in ctx.names:
            node = ctx.names[name]
            # per-flow memo: a define()d name evaluated to a Scalar on
            # this flow+alias under the same bindings resolves to the
            # SAME column — an aggregate-valued define (rev :=
            # sum(...)) lowers its grouped join once across selection /
            # sieve / fork() references instead of re-deriving the
            # child scan per reference (flows only add columns /
            # filter rows, so the joined column stays valid)
            key = (id(node), alias, _binding_fingerprint(ctx, node))
            hit = flow.name_memo.get(key)
            if hit is not None:
                return hit
            res = self.eval(ctx, scope, node)
            if isinstance(res, Scalar):
                flow.name_memo[key] = res
            return res
        if table is None and flow.kernel is not None:
            if flow.output:  # selection names stay in scope (e.g. sort(n-))
                for oname, ocol in flow.output:
                    if oname == name:
                        return Scalar(F.col(ocol), name)
        # home scope: table names (bare or namespace-qualified;
        # reference: SchemaEntity namespaces — a bare name resolves
        # when unique across namespaces, ambiguity is a bind error)
        if table is None and (flow.is_home or flow.kernel is None):
            key = self.engine.catalog.resolve(name)
            if key is not None:
                sub = self.engine.scan_flow(key)
                return FlowV(sub, [], [], hint=name)
            if name in self.engine.catalog.namespaces():
                return NamespaceRef(name)
            raise CompileError(f"unknown name '{name}'")
        if table is None:
            # operator-appended attributes work in projection scopes
            # too (zscore()/profile() are legal on reshaped flows);
            # kernel and selection names above still win
            if name in flow.extra:
                return Scalar(F.col(flow.extra[name]), name)
            raise CompileError(f"unknown attribute '{name}' in projection scope")
        # physical column
        if name in table.columns:
            return Scalar(F.col(flow.scope_col(name, alias)), name)
        # prefix-stripped alias (nation.name → n_name)
        phys = table.alias_of(name)
        if phys is not None:
            return Scalar(F.col(flow.scope_col(phys, alias)), name)
        # links
        link = table.links.get(name)
        if link is not None:
            if link.is_singular:
                talias = self.ensure_singular_join(flow, alias, link)
                return ScopeRef(flow, talias, self.engine.catalog[link.target], name)
            return self.spawn_plural(flow, alias, link)
        # selection names stay in scope (e.g. sort(n-)) — resolved
        # BEFORE operator-appended attributes so a user alias
        # ({entropy := …}) is never silently shadowed by a later
        # .entropy()'s appended column (the 'selection names stay in
        # scope' rule wins over flow-method output)
        if flow.output:
            for oname, ocol in flow.output:
                if oname == name:
                    return Scalar(F.col(ocol), name)
        # operator-appended attributes (gopher()/entropy()/classify()
        # flow methods) — after physical columns, links and selection
        # names, so user-visible names always win
        if name in flow.extra:
            return Scalar(F.col(flow.extra[name]), name)
        raise CompileError(f"unknown attribute '{name}' in scope '{table.name}'")

    def resolve_complement(self, scope: ScopeRef) -> FlowV:
        flow = scope.flow
        if flow.kernel is None or flow.base_flow is None:
            raise CompileError("'^' is only defined inside a projection scope")
        base = flow.base_flow.copy()
        # correlated quotient: complement groups are per (corr key,
        # kernel) — the carry columns exist under the same name in
        # both the quotient df and its base df
        carry = getattr(flow, "corr_carry", [])
        return FlowV(
            base,
            corr_outer=[c for _, c in flow.kernel] + carry,
            corr_inner=list(flow.base_kernel_cols) + carry,
            null_safe=True,
            hint="^",
        )

    def resolve_wildcard(self, ctx: Ctx, scope: ScopeRef, node: N.Wildcard):
        flow, alias, table = scope.flow, scope.alias, scope.table
        if table is None and flow.kernel is not None:
            items = [Scalar(F.col(c), n) for n, c in flow.kernel]
        elif table is not None:
            items = [Scalar(F.col(flow.scope_col(c, alias)), c) for c in table.columns]
        else:
            raise CompileError("'*' has no columns in this scope")
        if node.index is not None:
            if not (1 <= node.index <= len(items)):
                raise CompileError(f"*{node.index} out of range")
            return items[node.index - 1]
        return items  # list → expanded by selection

    # -- references ----------------------------------------------------
    def bind_reference(self, ctx: Ctx, scope: ScopeRef, name: str, expr: N.Node):
        """Define ``$name`` — evaluated EAGERLY in the definition scope
        and pinned as a column on the defining flow, so later uses
        (even inside correlated sub-flows) see the value at the
        definition site (reference:
        src/htsql/core/tr/lookup.py::lookup_reference).  Scope-free
        expressions (pure literals) stay lazy — usable anywhere."""
        if _is_scope_free(expr):
            ctx.refs[name] = expr
            return
        val = self.scalar(ctx, scope, expr)
        rc = self.engine.fresh("__ref")
        scope.flow.df = scope.flow.df.withColumn(rc, val.col)
        ctx.refs[name] = RefValue(rc, scope.flow, name)

    def _inject_refs(self, ctx: Ctx, v: FlowV, node: N.Node) -> None:
        """Make cross-flow $references usable inside a correlated
        sub-flow: join the defining flow's distinct (correlation keys,
        ref value) pairs into the sub-flow and extend the correlation
        with the ref columns — each (key, value) pair then gets its own
        aggregate/exists group, which is exactly the reference's
        correlated-subquery semantics (TPC-H Q21 shape: 'other
        lineitems of the same order with a DIFFERENT supplier')."""
        missing: list[RefValue] = []
        for nm in _find_references(node):
            rv = ctx.refs.get(nm)
            if isinstance(rv, RefValue) and rv.colname not in v.flow.df.columns:
                missing.append(rv)
        if not missing:
            return
        outer_df = missing[0].flow.df
        for rv in missing:
            if rv.flow is not missing[0].flow:
                raise CompileError(
                    "cross-flow $references from different defining flows"
                    " cannot be mixed in one sub-flow"
                )
        if not v.corr_outer:
            raise CompileError(
                f"reference ${missing[0].hint} crosses into an uncorrelated flow"
            )
        for c in v.corr_outer:
            if c not in outer_df.columns:
                raise CompileError(
                    f"reference ${missing[0].hint} is not defined on the"
                    " flow this sub-flow correlates with"
                )
        slice_df = outer_df.select(
            *[F.col(c) for c in v.corr_outer],
            *[F.col(rv.colname) for rv in missing],
        ).distinct()
        cond = None
        for ci, co in zip(v.corr_inner, v.corr_outer):
            eq = F.col(ci) == F.col(co)
            cond = eq if cond is None else (cond & eq)
        v.flow.df = v.flow.df.join(slice_df, cond, "inner")
        v.corr_outer = list(v.corr_outer) + [rv.colname for rv in missing]
        v.corr_inner = list(v.corr_inner) + [rv.colname for rv in missing]

    # -- joins ---------------------------------------------------------
    def ensure_singular_join(self, flow: Flow, alias: str, link) -> str:
        key = (alias, link.name)
        if key in flow.sjoins:
            return flow.sjoins[key]
        talias = self.engine.fresh("t")
        tdf = self.engine.scan_df(link.target, talias)
        if self.engine.catalog[link.target].name in self.engine.broadcast_tables:
            tdf = F.broadcast(tdf)
        cond = None
        for oc, tc in zip(link.origin_cols, link.target_cols):
            c = F.col(f"{alias}__{oc}") == F.col(f"{talias}__{tc}")
            cond = c if cond is None else (cond & c)
        flow.df = flow.df.join(tdf, cond, "left")
        flow.sjoins[key] = talias
        return talias

    def spawn_plural(self, flow: Flow, alias: str, link) -> FlowV:
        sub = self.engine.scan_flow(link.target)
        corr_outer = [f"{alias}__{oc}" for oc in link.origin_cols]
        corr_inner = [f"{sub.alias}__{tc}" for tc in link.target_cols]
        return FlowV(sub, corr_outer, corr_inner, hint=link.name)

    def extend_plural(self, v: FlowV, link) -> FlowV:
        """Plural navigation *inside* an existing sub-flow: inner join,
        scope moves to the child (reference: chained ChainArc)."""
        flow = v.flow
        talias = self.engine.fresh("t")
        tdf = self.engine.scan_df(link.target, talias)
        cond = None
        for oc, tc in zip(link.origin_cols, link.target_cols):
            c = F.col(f"{flow.alias}__{oc}") == F.col(f"{talias}__{tc}")
            cond = c if cond is None else (cond & c)
        flow.df = flow.df.join(tdf, cond, "inner")
        target = self.engine.catalog[link.target]
        flow.alias, flow.table = talias, target
        flow.sjoins = {}
        flow.order = flow.order + [(f"{talias}__{c}", True) for c in target.pk]
        v.value = None
        v.singular = False
        return v

    # -- member / composition -----------------------------------------
    def eval_member(self, ctx: Ctx, base, op: N.Node):
        if isinstance(base, Scalar):
            raise CompileError(f"cannot compose into a scalar ({base.hint!r})")
        if isinstance(base, NamespaceRef):
            if not isinstance(op, N.Identifier):
                raise CompileError(
                    f"namespace '{base.name}' must be followed by a table name"
                )
            key = self.engine.catalog.in_namespace(base.name, op.name)
            if key is None:
                raise CompileError(
                    f"no table '{op.name}' in namespace '{base.name}'"
                )
            sub = self.engine.scan_flow(key)
            return FlowV(sub, [], [], hint=f"{base.name}.{op.name}")
        if isinstance(base, ScopeRef):
            v = self.eval(ctx, base, op)
            if isinstance(v, list):  # wildcard expansion only valid in selections
                raise CompileError("'*' must appear inside a selection")
            return v
        if isinstance(base, FlowV):
            return self.eval_flow_member(ctx, base, op)
        raise CompileError("invalid composition")

    def eval_flow_member(self, ctx: Ctx, v: FlowV, op: N.Node):
        flow = v.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        self._inject_refs(ctx, v, op)
        if isinstance(op, N.Identifier):
            # plural links extend the sub-flow in place; anything else
            # evaluates in the sub-flow scope
            if (
                op.name not in ctx.names
                and flow.table is not None
                and op.name in flow.table.links
                and flow.table.links[op.name].is_plural
            ):
                return self.extend_plural(v, flow.table.links[op.name])
            r = self.eval(ctx, scope, op)
            return self.absorb(v, r)
        if isinstance(op, N.Apply):
            if op.name in FLOW_METHODS:
                return _call_flow_method(self, ctx, v, op.name, op.args)
            r = self.apply_function(ctx, scope, op.name, op.args)
            return self.absorb(v, r)
        if isinstance(op, N.Wildcard):
            r = self.eval(ctx, scope, op)
            if isinstance(r, list):
                flow.output = None  # full row output
                return v
            return self.absorb(v, r)
        raise CompileError(f"cannot compose {type(op).__name__}")

    def absorb(self, v: FlowV, r) -> FlowV:
        """Fold a member-evaluation result back into the sub-flow value."""
        if isinstance(r, Scalar):
            v.value = r.col
            v.hint = r.hint
            return v
        if isinstance(r, ScopeRef):
            # singular nav: scope moves within the same flow
            v.flow.alias, v.flow.table = r.alias, r.table
            v.value = None
            v.hint = r.hint
            return v
        if isinstance(r, FlowV):
            return r
        raise CompileError("unsupported member result")

    # -- sieve / selection / quotient / locate ------------------------
    def apply_sieve(self, ctx: Ctx, outer: ScopeRef, base, predicate: N.Node):
        if isinstance(base, ScopeRef) and base.table is None and base.flow.is_home:
            raise CompileError("'?' needs a flow")
        if isinstance(base, ScopeRef):
            base = FlowV(base.flow, hint=base.hint)
            base.flow.alias, base.flow.table = base.alias, base.table
        if not isinstance(base, FlowV):
            raise CompileError("'?' applies to a flow")
        flow = base.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        # cross-flow $references in the predicate join their defining
        # value in before anything evaluates against this sub-flow
        self._inject_refs(ctx, base, predicate)
        # lower pure-chain aggregates in the predicate through the
        # batch/memo path — `{qty := sum(lineitem.l_quantity)}?sum(
        # lineitem.l_quantity) > 300` reuses the selection's grouped
        # join instead of scanning lineitem a second time (Q18 shape)
        self.batch_aggregates(ctx, scope, [predicate])
        pred = self.to_predicate(ctx, scope, predicate)
        flow.df = flow.df.filter(pred)
        return base

    def to_predicate(self, ctx: Ctx, scope: ScopeRef, node: N.Node) -> Column:
        """Evaluate a sieve predicate with implicit boolean coercion
        (text → non-null & non-empty; reference:
        src/htsql/core/tr/coerce.py::coerce)."""
        val = self.scalar(ctx, scope, node)
        return fnlib.to_boolean(self, scope, val.col)

    def apply_selection(self, ctx: Ctx, outer: ScopeRef, base, items: list[N.Node]):
        if isinstance(base, ScopeRef):
            if base.flow.is_home:
                raise CompileError("selection needs a flow or table scope")
            v = FlowV(base.flow, hint=base.hint)
            v.flow.alias, v.flow.table = base.alias, base.table
            base = v
        if not isinstance(base, FlowV):
            raise CompileError("selection applies to a flow")
        flow = base.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        prepared = self.batch_aggregates(ctx, scope, items)
        out: list[tuple[str, str]] = []
        newcols: dict[str, Column] = {}
        for item in items:
            for name, col, direction in self.eval_item(ctx, scope, item, prepared):
                cname = self.engine.fresh("__s")
                newcols[cname] = col
                out.append((name, cname))
                if direction is not None:
                    flow.order = [(cname, direction)] + [
                        o for o in flow.order if o[0] != cname
                    ]
                    flow.explicit_order = True
        if newcols:
            flow.df = flow.df.withColumns(newcols)
        flow.output = out
        # a one-item selection over a plural flow is also usable as a
        # mapped value: sum(orders{price * (1 - discount)})
        base.value = F.col(out[0][1]) if len(out) == 1 else None
        return base

    def eval_item(self, ctx: Ctx, scope: ScopeRef, item: N.Node, prepared=None):
        """Yield (name, Column, direction) triples for one selection item."""
        prepared = prepared or {}
        direction = None
        if isinstance(item, N.Direction):
            direction = item.ascending
            item = item.expr
        if isinstance(item, N.Assignment):
            if item.is_reference:
                raise CompileError("$ref := … is only allowed in given()")
            if id(item.expr) in prepared:
                yield (item.name, prepared[id(item.expr)].col, direction)
                return
            v = self.eval(ctx, scope, item.expr)
            yield (item.name, self.value_col(ctx, scope, v, item.expr), direction)
            return
        if id(item) in prepared:
            yield (prepared[id(item)].hint, prepared[id(item)].col, direction)
            return
        v = self.eval(ctx, scope, item)
        if isinstance(v, list):  # wildcard expansion
            for s in v:
                yield (s.hint, s.col, None)
            return
        # the evaluated hint carries `:as` titles and function headers;
        # fall back to the syntactic header (reference: decorate stage).
        # A bare identifier keeps ITS name even when it resolves
        # through a define() — selecting `x` yields column x, not the
        # defined expression's header (reference: decorate uses the
        # syntax node's name for identifiers)
        if isinstance(item, N.Identifier):
            name = item.name
        else:
            name = v.hint if getattr(v, "hint", "?") not in ("?", "") else hint_of(item)
        yield (name, self.value_col(ctx, scope, v, item), direction)

    def value_col(self, ctx: Ctx, scope: ScopeRef, v, node: N.Node) -> Column:
        """Turn an evaluation result into a column in the current scope
        — scalars directly; plural flows become nested-list columns
        (reference: src/htsql/core/tr/compile.py::CompileSegment);
        located singular flows become scalar lookups."""
        if isinstance(v, Scalar):
            return v.col
        if isinstance(v, ScopeRef):
            raise CompileError(f"'{v.hint}' is a link, select a column from it")
        if isinstance(v, FlowV):
            if isinstance(node, N.Segment):
                return self.collect_segment(scope, v)
            if v.singular:
                return self.scalarize(scope, v)
            raise CompileError(
                f"plural expression '{v.hint}' in singular context; use a "
                f"nested segment /{v.hint} or an aggregate"
            )
        raise CompileError("cannot select this expression")

    def scalar(self, ctx: Ctx, scope: ScopeRef, node: N.Node) -> Scalar:
        """Evaluate expecting a singular value (reference bind error:
        'plural expression in singular context')."""
        v = self.eval(ctx, scope, node)
        if isinstance(v, Scalar):
            return v
        if isinstance(v, FlowV) and (v.singular or not v.corr_inner):
            if v.singular:
                return Scalar(self.scalarize(scope, v), v.hint)
        if isinstance(v, FlowV):
            raise CompileError(
                f"plural expression '{v.hint}' used in singular context; "
                "wrap it in an aggregate (count/sum/exists/…)"
            )
        if isinstance(v, ScopeRef):
            raise CompileError(f"'{v.hint}' is a link, not a value")
        raise CompileError("expected a scalar expression")

    def make_quotient(self, ctx: Ctx, outer: ScopeRef, base, kernel: N.Node):
        """flow ^ kernel (reference: space.py::QuotientSpace,
        ::KernelUnit)."""
        if isinstance(base, ScopeRef):
            v = FlowV(base.flow, hint=base.hint)
            v.flow.alias, v.flow.table = base.alias, base.table
            base = v
        if not isinstance(base, FlowV):
            raise CompileError("'^' projection applies to a flow")
        flow = base.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        kitems = kernel.items if isinstance(kernel, N.Selection) and kernel.base is None else [kernel]
        if not kitems:
            raise CompileError("'^' projection needs a non-empty kernel")
        knames: list[str] = []
        kcols: dict[str, Column] = {}
        for item in kitems:
            if isinstance(item, N.Assignment):
                name, col = item.name, self.scalar(ctx, scope, item.expr).col
            else:
                name, col = hint_of(item), self.scalar(ctx, scope, item).col
            cname = self.engine.fresh("__k")
            kcols[cname] = col
            knames.append((name, cname))
        flow.df = flow.df.withColumns(kcols)
        base_copy = flow.copy()
        qalias = self.engine.fresh("q")
        sel = [F.col(c).alias(f"{qalias}__{i}") for i, (_, c) in enumerate(knames)]
        corr_sel = [F.col(c) for c in base.corr_inner]
        qdf = flow.df.select(*(corr_sel + sel)).distinct()
        qflow = Flow(self.engine, qdf, qalias, None)
        qflow.kernel = [(n, f"{qalias}__{i}") for i, (n, _) in enumerate(knames)]
        qflow.base_flow = base_copy
        qflow.base_kernel_cols = [c for _, c in knames]
        # a quotient of a CORRELATED flow stays correlated: distinct
        # kernel values (and complement groups) are per correlation
        # key, not global — the corr columns ride along in qdf under
        # their original names and extend every complement grouping
        # (reference: QuotientSpace keeps its base space's baseline)
        qflow.corr_carry = list(base.corr_inner)
        qflow.order = [(c, True) for _, c in qflow.kernel]
        # marker for quotient fusion: while df is still the bare
        # distinct, a selection of {kernel, aggs-over-^} can replace it
        # with ONE groupBy (no distinct, no join-back)
        qflow.pristine_df = qdf
        return FlowV(
            qflow,
            corr_outer=list(base.corr_outer),
            corr_inner=list(base.corr_inner),
            null_safe=base.null_safe,
            hint=f"{base.hint}^{'…'}",
        )

    def apply_locate(self, ctx: Ctx, outer: ScopeRef, base, identity: list):
        """``table[identity]`` — filter to one row by identity literal.

        Identity columns default to the primary key; a table may
        declare an alternate text unique key (catalog ``identity:``),
        enabling quoted-text locators ``/region['ASIA']`` (reference:
        src/htsql/core/domain.py::IdentityDomain,
        src/htsql/core/tr/fn/bind.py::BindId).  Literal parts are
        untyped (reference: UntypedDomain) and coerced to the column's
        domain — ``/lineitem['1'.3]`` works; text that cannot coerce
        to a numeric identity column is a bind error, not a runtime
        cast failure."""
        if isinstance(base, ScopeRef):
            v = FlowV(base.flow, hint=base.hint)
            v.flow.alias, v.flow.table = base.alias, base.table
            base = v
        if not isinstance(base, FlowV) or base.flow.table is None:
            raise CompileError("locator [...] applies to a table flow")
        flow = base.flow
        idc = flow.table.identity_cols
        if len(identity) != len(idc):
            raise CompileError(
                f"identity [{'.'.join(map(str, identity))}] does not match "
                f"{flow.table.name} identity ({', '.join(idc)})"
            )
        cond = None
        for part, c in zip(identity, idc):
            colname = flow.scope_col(c)
            eq = F.col(colname) == _coerce_identity_part(
                part, flow.df.schema[colname].dataType, flow.table.name, c
            )
            cond = eq if cond is None else (cond & eq)
        flow.df = flow.df.filter(cond)
        base.singular = True
        return base

    # ------------------------------------------------------------------
    # aggregate batching: N aggregates over the same plural chain →
    # ONE groupBy + ONE join (the reference computes each AggregateUnit
    # separately and lets the RDBMS dedupe; on Spark we must not emit
    # N shuffles for `{sum(x), count(x), avg(x)}` — TPC-H Q1 shape)
    # ------------------------------------------------------------------
    def batch_aggregates(self, ctx: Ctx, scope: ScopeRef, items: list[N.Node]) -> dict:
        groups: dict[tuple, list] = {}
        # stage 2: duplicate-unit elimination over a shared non-pure
        # space (reference: tr/rewrite.py unit collation) — aggregates
        # whose args differ only in value path / trailing define()s
        # but share the same flow expression (`sum((li?X).a) /
        # sum((li?X).b)`, TPC-H Q14 shape) evaluate the flow ONCE and
        # share one groupBy+join instead of scanning per aggregate
        groups2: dict[str, list] = {}
        for item in items:
            for node in _find_agg_applications(item):
                chain = _pure_chain(node.args[0])
                if chain is not None and chain[0] not in ctx.names:
                    split = self._split_chain(ctx, scope, chain)
                    if split is not None:
                        fkey, vpath = split
                        groups.setdefault(fkey, []).append(
                            (node, node.name.lower(), vpath, node.args[1:])
                        )
                        continue
                if chain is not None and chain[0] in ctx.names:
                    # chain over a define()d / given() flow name:
                    # substitute the bound expression as the shared
                    # space so `given(li := lineitem?X, {sum(li.a),
                    # count(li)})` evaluates li once
                    head = ctx.names[chain[0]]
                    groups2.setdefault(repr(head), []).append(
                        (node, node.name.lower(), head, [], chain[1:], node.args[1:], None)
                    )
                    continue
                dec = _split_flow_value(node.args[0])
                if dec is not None:
                    fexpr, defines, vpath = dec
                    # sieve-family elimination: aggregates over the
                    # same flow that differ ONLY in a sieve predicate
                    # (`exists(F?P)` with `!exists(F?P&Q)`, TPC-H Q21
                    # shape) share ONE flow evaluation and ONE grouped
                    # join — each member's predicate becomes a
                    # conditional aggregate (max(P), count(when(P,1)),
                    # sum(when(P,v)), …) instead of a separate
                    # filter+groupBy+join over the fact table.
                    # Predicates that themselves contain aggregates
                    # stay on the one-off path.
                    pred = None
                    if isinstance(fexpr, N.Sieve) and not _find_agg_applications(
                        fexpr.predicate
                    ):
                        pred, fexpr = fexpr.predicate, fexpr.base
                    groups2.setdefault(repr(fexpr), []).append(
                        (node, node.name.lower(), fexpr, defines, vpath, node.args[1:], pred)
                    )
        prepared: dict[int, Scalar] = {}
        # structural memo: the same pure-chain aggregate lowered twice
        # on one flow (selection + sieve, e.g. TPC-H Q18's
        # `{qty := sum(lineitem.l_quantity)}?sum(lineitem.l_quantity) > 300`)
        # reuses the first grouped-join column instead of re-scanning
        # and re-shuffling the child table (flows only ever add
        # columns / filter rows, so an earlier joined column stays
        # valid)
        memo = scope.flow.agg_memo
        for fkey, members in groups.items():
            fresh = []
            for m in members:
                node, aggname, vpath, extra = m
                mkey = (aggname, fkey, tuple(vpath), repr(extra))
                hit = memo.get(mkey)
                if hit is not None:
                    prepared[id(node)] = hit
                else:
                    fresh.append(m)
            members = fresh
            if not members:
                continue
            # quotient fusion (see _fuse_quotient): direct-complement
            # aggregates over an untouched quotient replace the
            # distinct+join with one groupBy — worth it even for a
            # single aggregate
            fusable = (
                fkey == ("^",)
                and scope.flow.kernel is not None
                and getattr(scope.flow, "pristine_df", None) is scope.flow.df
                and set(scope.flow.df.columns) == {c for _, c in scope.flow.kernel}
            )
            multi_hop = len(fkey) >= 2 and fkey[0] != "^"
            if multi_hop:
                done = self._try_hierarchical(scope, fkey, members, prepared)
                if done:
                    for node, aggname, vpath, extra in members:
                        if id(node) in prepared:
                            memo[(aggname, fkey, tuple(vpath), repr(extra))] = prepared[id(node)]
                    continue
            if len(members) < 2 and not fusable and members[0][3]:
                continue  # single parameterized aggregate → one-off path
            # navigate the shared plural chain once
            nav: N.Node = N.Complement() if fkey[0] == "^" else N.Identifier(fkey[0])
            for nm in fkey[1:]:
                nav = N.Compose(nav, N.Identifier(nm))
            v = self.eval(ctx, scope, nav)
            if not isinstance(v, FlowV):  # pragma: no cover - guarded by _split_chain
                continue
            sub_scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
            aggs: list[Column] = []
            lowered: list[tuple] = []  # (member, vname, post)
            for member in members:
                node, aggname, vpath, extra = member
                val = None
                if vpath:
                    vnode: N.Node = N.Identifier(vpath[0])
                    for nm in vpath[1:]:
                        vnode = N.Compose(vnode, N.Identifier(nm))
                    try:
                        val = self.scalar(ctx, sub_scope, vnode).col
                    except CompileError:
                        continue  # defined name too complex → one-off path
                agg, post = fnlib.agg_expr(self, sub_scope, aggname, val, extra)
                vname = self.engine.fresh("__a")
                aggs.append(agg.alias(vname))
                lowered.append((member, vname, post))
            if fusable and aggs:
                self._fuse_quotient(scope.flow, v, aggs)
            else:
                self._join_grouped(scope.flow, v, aggs)
            for (node, aggname, vpath, extra), vname, post in lowered:
                col = F.col(vname)
                if post is not None:
                    col = post(col)
                sc = Scalar(col, f"{aggname}")
                prepared[id(node)] = sc
                memo[(aggname, fkey, tuple(vpath), repr(extra))] = sc
        for key2, members2 in groups2.items():
            fresh2 = []
            for m in members2:
                node, aggname, fexpr, defines, vpath, extra, pred = m
                mkey = (aggname, key2, repr(defines), tuple(vpath), repr(extra), repr(pred))
                hit = memo.get(mkey)
                if hit is not None:
                    prepared[id(node)] = hit
                else:
                    fresh2.append(m)
            members2 = fresh2
            if len(members2) < 2:
                continue  # nothing shared → one-off path
            try:
                v = self.eval(ctx.child(), scope, members2[0][2])
            except CompileError:
                continue
            if not isinstance(v, FlowV) or v.singular:
                continue
            sub_scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
            aggs = []
            lowered = []
            for member in members2:
                node, aggname, fexpr, defines, vpath, extra, pred = member
                mctx = ctx.child()
                for a in defines:
                    mctx.names[a.name] = a.expr
                val = None
                if vpath:
                    vnode: N.Node = N.Identifier(vpath[0])
                    for nm in vpath[1:]:
                        vnode = N.Compose(vnode, N.Identifier(nm))
                    try:
                        val = self.scalar(mctx, sub_scope, vnode).col
                    except CompileError:
                        continue  # too complex → one-off path
                elif v.value is not None:
                    val = v.value
                if pred is not None:
                    # the member's sieve as a conditional aggregate:
                    # $references join in first (extending the shared
                    # flow's correlation), then rows failing the
                    # predicate null out of the aggregate
                    try:
                        self._inject_refs(mctx, v, pred)
                        sub_scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
                        predcol = self.to_predicate(mctx, sub_scope, pred)
                    except CompileError:
                        continue  # too complex → one-off path
                    val = predcol if val is None else F.when(predcol, val)
                try:
                    agg, post = fnlib.agg_expr(self, sub_scope, aggname, val, extra)
                except CompileError:
                    continue
                vname = self.engine.fresh("__a")
                aggs.append(agg.alias(vname))
                lowered.append((member, vname, post))
            if not aggs:
                continue
            self._join_grouped(scope.flow, v, aggs)
            for (node, aggname, fexpr, defines, vpath, extra, pred), vname, post in lowered:
                col = F.col(vname)
                if post is not None:
                    col = post(col)
                sc = Scalar(col, f"{aggname}")
                prepared[id(node)] = sc
                memo[(aggname, key2, repr(defines), tuple(vpath), repr(extra), repr(pred))] = sc
        ctx.prepared.update(prepared)
        return prepared

    def _split_chain(self, ctx: Ctx, scope: ScopeRef, chain: list[str]):
        """Split a pure name chain into (plural-link prefix, value
        path) using catalog metadata; None → not batchable."""
        cat = self.engine.catalog
        if chain[0] == "^":
            flow = scope.flow
            if flow.kernel is None or flow.base_flow is None:
                return None
            t = flow.base_flow.table
            plural, rest = ["^"], chain[1:]
        else:
            t = scope.table
            if t is None:
                return None
            plural, rest = [], chain
        i = 0
        while i < len(rest) and t is not None and rest[i] in t.links and t.links[rest[i]].is_plural:
            plural.append(rest[i])
            t = cat[t.links[rest[i]].target]
            i += 1
        if not plural:
            return None
        vpath = rest[i:]
        # validate the value path: singular links then one column (or a
        # define()d name as the terminal — resolved at eval, guarded)
        for j, nm in enumerate(vpath):
            if t is None:
                return None
            if nm in t.links and t.links[nm].is_singular and j < len(vpath) - 1:
                t = cat[t.links[nm].target]
                continue
            if nm in t.columns or t.alias_of(nm) is not None:
                if j != len(vpath) - 1:
                    return None
                break
            if j == len(vpath) - 1 and nm in ctx.names:
                break
            return None
        return tuple(plural), vpath

    #: aggregates that re-aggregate losslessly across join levels
    #: (avg decomposes into a sum+count partial pair)
    _DECOMPOSABLE = {"count", "exists", "any", "sum", "min", "max", "avg", "mean"}

    def _try_hierarchical(self, scope: ScopeRef, fkey, members, prepared) -> bool:
        """Multi-hop plural aggregates (`count(orders.lineitem)`)
        lower hierarchically: partial-aggregate the LEAF on its join
        key, then fold up each link re-aggregating, then one left join
        to the outer flow.  The fact-fact join thus joins pre-shrunk
        per-key partials instead of exploding rows first — at 100 TB
        the orders⋈lineitem join input drops from |lineitem| rows to
        |orders| partials.  Catalyst has no partial-agg-through-join
        rule; the reference leaves this to the RDBMS (reference:
        src/htsql/core/tr/compile.py::Compile unit injection).

        Returns True (and fills ``prepared``) when every member is
        decomposable with a leaf-column value; False → caller uses the
        generic grouped-join path."""
        cat = self.engine.catalog
        t = scope.table
        if t is None:
            return False
        links = []
        for nm in fkey:
            link = t.links.get(nm) if t is not None else None
            if link is None or not link.is_plural:
                return False
            links.append(link)
            t = cat[link.target]
        leaf = t
        plan = []  # (node, aggname, leaf physical column | None)
        for node, name, vpath, extra in members:
            if name not in self._DECOMPOSABLE or extra:
                return False
            if name in ("count", "exists", "any"):
                if vpath:
                    return False
                plan.append((node, name, None))
            else:
                if len(vpath) != 1:
                    return False
                c = vpath[0] if vpath[0] in leaf.columns else leaf.alias_of(vpath[0])
                if c is None:
                    return False
                plan.append((node, name, c))
        # leaf partials, grouped on the deepest join key; each member
        # owns one or two (avg: sum+count) partial columns that keep
        # their names across every re-aggregation level
        partials, merges, outputs = [], [], []
        for node, name, col in plan:
            p = self.engine.fresh("__h")
            if name in ("count", "exists", "any"):
                partials.append(F.count(F.lit(1)).alias(p))
                merges.append((F.sum, p))
                outputs.append((node, name, p, None))
            elif name in ("avg", "mean"):
                p2 = self.engine.fresh("__h")
                partials.append(F.sum(F.col(col)).alias(p))
                partials.append(F.count(F.col(col)).alias(p2))
                merges.append((F.sum, p))
                merges.append((F.sum, p2))
                outputs.append((node, name, p, p2))
            else:
                partials.append(getattr(F, name)(F.col(col)).alias(p))
                merges.append((F.sum if name == "sum" else getattr(F, name), p))
                outputs.append((node, name, p, None))
        pnames = [p for _, p in merges]
        cur = (
            self.engine.table(leaf.name)
            .groupBy(*[F.col(c) for c in links[-1].target_cols])
            .agg(*partials)
        )
        # fold up: join each intermediate table, re-aggregate on its
        # own join-up key
        for j in range(len(links) - 2, -1, -1):
            up, down = links[j], links[j + 1]
            parent = self.engine.table(up.target).select(
                *dict.fromkeys(list(down.origin_cols) + list(up.target_cols))
            )
            cond = None
            for oc, tc in zip(down.origin_cols, down.target_cols):
                eq = parent[oc] == cur[tc]
                cond = eq if cond is None else (cond & eq)
            cur = (
                parent.join(cur, cond, "inner")
                .groupBy(*[parent[c] for c in up.target_cols])
                .agg(*[fn(F.col(p)).alias(p) for fn, p in merges])
            )
        # one left join to the outer flow on the first link
        tmp = [self.engine.fresh("__j") for _ in links[0].target_cols]
        cur = cur.select(
            *[F.col(k).alias(a) for k, a in zip(links[0].target_cols, tmp)],
            *[F.col(p) for p in pnames],
        )
        cond = None
        for oc, a in zip(links[0].origin_cols, tmp):
            eq = F.col(f"{scope.alias}__{oc}") == F.col(a)
            cond = eq if cond is None else (cond & eq)
        scope.flow.df = scope.flow.df.join(cur, cond, "left").drop(*tmp)
        for node, name, p, p2 in outputs:
            col = F.col(p)
            if name == "count":
                col = F.coalesce(col, F.lit(0))
            elif name in ("exists", "any"):
                col = F.coalesce(col > 0, F.lit(False))
            elif name in ("avg", "mean"):
                col = F.col(p) / F.col(p2)
            prepared[id(node)] = Scalar(col, name)
        return True

    def _fuse_quotient(self, qflow: Flow, v: FlowV, aggs: list[Column]) -> None:
        """Quotient fusion: `base ^ kernel {kernel, agg(^)…}` is ONE
        ``base.groupBy(kernel).agg(…)`` — the distinct that built the
        quotient and the join-back both disappear.  The grouped result
        has exactly the distinct kernel set, so this is semantics-
        preserving while halving the shuffles of the TPC-H Q1 shape
        (the reference leaves this to the RDBMS planner; reference:
        src/htsql/core/tr/compile.py::CompileCovering)."""
        sub = v.flow
        grouped = sub.df.groupBy(*[F.col(c) for c in v.corr_inner]).agg(*aggs)
        rename = dict(zip(v.corr_inner, [c for _, c in qflow.kernel]))
        qflow.df = grouped.select(
            *[F.col(c).alias(rename.get(c, c)) for c in grouped.columns]
        )

    def _join_grouped(self, outer: Flow, v: FlowV, aggs: list[Column]) -> None:
        """groupBy correlation keys + LEFT JOIN back (shared by single
        and batched aggregate lowering)."""
        sub = v.flow
        if not v.corr_inner:
            adf = sub.df.agg(*aggs)
            outer.df = outer.df.crossJoin(F.broadcast(adf))
            return
        adf = sub.df.groupBy(*[F.col(c) for c in v.corr_inner]).agg(*aggs)
        tmp = [self.engine.fresh("__j") for _ in v.corr_inner]
        keep = [f for f in adf.columns if f not in v.corr_inner]
        adf = adf.select(
            *[F.col(k).alias(t) for k, t in zip(v.corr_inner, tmp)],
            *[F.col(c) for c in keep],
        )
        cond = None
        for o, t in zip(v.corr_outer, tmp):
            eq = F.col(o).eqNullSafe(F.col(t)) if v.null_safe else F.col(o) == F.col(t)
            cond = eq if cond is None else (cond & eq)
        outer.df = outer.df.join(adf, cond, "left").drop(*tmp)

    # ------------------------------------------------------------------
    # aggregate / scalar-subquery lowering
    # ------------------------------------------------------------------
    def lower_aggregate(self, scope: ScopeRef, v: FlowV, agg_col: Column, post=None, hint="agg") -> Scalar:
        """Grouped-join strategy (reference:
        src/htsql/core/tr/space.py::AggregateUnit lowered via
        src/htsql/core/tr/compile.py::Compile unit injection)."""
        vname = self.engine.fresh("__a")
        self._join_grouped(scope.flow, v, [agg_col.alias(vname)])
        col = F.col(vname)
        if post is not None:
            col = post(col)
        return Scalar(col, hint)

    def scalarize(self, scope: ScopeRef, v: FlowV) -> Column:
        """A located-singular sub-flow used as a value: left-join its
        (single) row back on the correlation keys."""
        sub = v.flow
        if v.value is None:
            raise CompileError(f"'{v.hint}' names a row, select a column from it")
        vname = self.engine.fresh("__v")
        outer = scope.flow
        if not v.corr_inner:
            adf = sub.df.select(v.value.alias(vname)).limit(1)
            outer.df = outer.df.crossJoin(F.broadcast(adf))
        else:
            tmp = [self.engine.fresh("__j") for _ in v.corr_inner]
            adf = sub.df.select(
                *[F.col(k).alias(t) for k, t in zip(v.corr_inner, tmp)], v.value.alias(vname)
            )
            cond = None
            for o, t in zip(v.corr_outer, tmp):
                eq = F.col(o) == F.col(t)
                cond = eq if cond is None else (cond & eq)
            outer.df = outer.df.join(adf, cond, "left").drop(*tmp)
        return F.col(vname)

    def collect_segment(self, scope: ScopeRef, v: FlowV) -> Column:
        """Nested segment → ArrayType(StructType) column via
        collect_list + array_sort (SURVEY.md §7 hard part #3)."""
        sub = v.flow
        if not v.corr_inner:
            raise CompileError("nested segment must be correlated with its parent")
        if v.value is not None and sub.output is None:
            tmp = self.engine.fresh("__v")
            sub.df = sub.df.withColumn(tmp, v.value)
            sub.output = [(v.hint, tmp)]
        out = sub.output or self.default_output(sub)
        okeys = [(c, asc) for c, asc in sub.order]
        fields = [F.col(c).alias(n) for n, c in out]
        ofields = [F.col(c).alias(f"__o{i}") for i, (c, _) in enumerate(okeys)]
        payload = F.struct(*(ofields + fields))
        aname = self.engine.fresh("__arr")
        tmpk = [self.engine.fresh("__j") for _ in v.corr_inner]
        gdf = (
            sub.df.groupBy(*[F.col(c) for c in v.corr_inner])
            .agg(F.collect_list(payload).alias(aname))
            .select(
                *[F.col(k).alias(t) for k, t in zip(v.corr_inner, tmpk)], F.col(aname)
            )
        )
        outer = scope.flow
        cond = None
        for o, t in zip(v.corr_outer, tmpk):
            eq = F.col(o).eqNullSafe(F.col(t)) if v.null_safe else F.col(o) == F.col(t)
            cond = eq if cond is None else (cond & eq)
        outer.df = outer.df.join(gdf, cond, "left").drop(*tmpk)
        arr = F.col(aname)
        if okeys:
            arr = F.array_sort(arr, _struct_comparator(okeys))
        names = [n for n, _ in out]
        arr = F.transform(arr, lambda x: F.struct(*[x[n].alias(n) for n in names]))
        # parents with no children → empty list, not NULL
        return F.coalesce(arr, F.expr(f"CAST(array() AS {_empty_array_type(sub.df, out)})"))

    # ------------------------------------------------------------------
    # operators & functions
    # ------------------------------------------------------------------
    def eval_operator(self, ctx: Ctx, scope: ScopeRef, node: N.Operator):
        return fnlib.eval_operator(self, ctx, scope, node)

    def eval_unary(self, ctx: Ctx, scope: ScopeRef, node: N.Unary):
        if node.op == "!":
            col = self.to_predicate(ctx, scope, node.operand)
            return Scalar(~col, "!" + hint_of(node.operand))
        v = self.scalar(ctx, scope, node.operand)
        return Scalar(-v.col if node.op == "-" else v.col, node.op + v.hint)

    def apply_function(self, ctx: Ctx, scope: ScopeRef, name: str, args: list[N.Node]):
        key = name.lower()
        if key == "meta":
            return self._meta_flow(args)
        if name in self.engine.gateways and len(args) == 1:
            return self._gateway_flow(name, args[0])
        if key in FLOW_METHODS and scope.table is not None:
            return _call_flow_method(self, ctx, FlowV(scope.flow, hint=name), key, args)
        if key in fnlib.AGGREGATES:
            return fnlib.apply_aggregate(self, ctx, scope, key, args)
        if key in fnlib.SCALARS:
            return fnlib.SCALARS[key](self, ctx, scope, args)
        if key in FLOW_METHODS:
            return _call_flow_method(self, ctx, FlowV(scope.flow, hint=name), key, args)
        raise CompileError(f"unknown function '{name}'")


    def _gateway_flow(self, name: str, sub: N.Node) -> FlowV:
        """``/name(/query)`` — route the nested query to the attached
        gateway engine (reference: src/htsql/tweak/gateway/), then
        surface its output as a flow of the *local* query, so gateway
        results compose with sieves/selections/quotients — and, going
        beyond the reference (where gateways are isolated commands),
        even join against local tables: both catalogs are DataFrames
        in one SparkSession."""
        from .catalog import TableDef

        gw = self.engine.gateways[name]
        if not isinstance(sub, N.Segment):
            sub = N.Segment(sub)
        mdf = Compiler(gw).compile_query(sub)
        if gw.autolimit:  # the gateway's own service config applies
            mdf = mdf.limit(gw.autolimit)
        tdef = TableDef(name=f"gateway_{name}", pk=(), columns=tuple(mdf.columns))
        alias = self.engine.fresh("g")
        df = mdf.select(*[F.col(c).alias(f"{alias}__{c}") for c in mdf.columns])
        flow = Flow(self.engine, df, alias, tdef)
        flow.order = []
        return FlowV(flow, [], [], hint=f"{name}(…)")

    def _meta_flow(self, args: list[N.Node]) -> FlowV:
        """/meta(table|column|link) — the catalog queryable as flows
        (reference: src/htsql/tweak/meta/)."""
        from .catalog import TableDef

        if len(args) != 1 or not isinstance(args[0], (N.Identifier, N.Literal)):
            raise CompileError("meta(kind) takes table|column|link")
        kind = args[0].name if isinstance(args[0], N.Identifier) else str(args[0].value)
        if kind not in ("table", "column", "link"):
            raise CompileError(f"unknown meta kind {kind!r} (use table|column|link)")
        mdf = self.engine.meta_df(kind)
        pk = {"table": ("name",), "column": ("table", "name"), "link": ("origin", "name")}[
            kind
        ]
        tdef = TableDef(name=f"meta_{kind}", pk=pk, columns=tuple(mdf.columns))
        alias = self.engine.fresh("m")
        df = mdf.select(*[F.col(c).alias(f"{alias}__{c}") for c in mdf.columns])
        flow = Flow(self.engine, df, alias, tdef)
        flow.order = [(f"{alias}__{c}", True) for c in pk]
        return FlowV(flow, [], [], hint=f"meta({kind})")


# ----------------------------------------------------------------------
# flow methods (postfix flow functions)
#
# FLOW_METHODS (end of this section) is the single description of every
# flow method: the signature its errors name, its argument range, the
# table columns it requires, whether it is batch-only, and its binder.
# _call_flow_method checks all of them, in that order, BEFORE the binder
# runs: budget, mix, cluster, heavy_hitters and freq start Spark jobs
# while the DataFrame is built, so no user error may surface after one.
# Binders take (cc, ctx, v, args, name) and return the flow value; the
# five repeated shapes (appenders, join-back scorers, pair droppers,
# events reshapes, sketch reshapes) are factories that return rows.
# ----------------------------------------------------------------------
class FlowMethod(NamedTuple):
    sig: str  # the call shape arity errors name
    lo: int
    hi: int | None  # None: unbounded
    bind: Callable
    needs: tuple = ()  # ((columns, hint), ...) the flow's table must carry
    batch: bool = False
    takes: str | None = None  # arity message when lo..hi does not say it
    step: int = 1  # accepted counts are lo, lo+step, ... (mix: pairs)


_TEXT = (("text",), "e.g. /documents")
_LANG = (("lang",), "the bucketing key")
_EMBEDDING = (("embedding",), "e.g. /embeddings")
_COUNTS = {1: "one argument", 2: "two arguments"}


def _events_need(*cols: str) -> tuple:
    return ((cols, "e.g. /events"),)


def _call_flow_method(cc: Compiler, ctx: Ctx, v: FlowV, name: str, args):
    m = FLOW_METHODS[name]
    n = len(args)
    if n < m.lo or (m.hi is not None and n > m.hi) or (n - m.lo) % m.step:
        if m.takes:
            raise CompileError(f"{m.sig} {m.takes}")
        if m.hi == 0:
            raise CompileError(f"{m.sig} takes no arguments")
        if m.lo == 0:
            raise CompileError(f"{m.sig} takes at most {_COUNTS[m.hi]}")
        raise CompileError(f"{m.sig} takes {m.lo} or {m.hi} arguments")
    table = v.flow.table
    for cols, hint in m.needs:
        if table is None or any(c not in table.columns for c in cols):
            if len(cols) == 1:
                what = f"{'an' if cols[0][0] in 'aeiou' else 'a'} '{cols[0]}' column"
            else:
                what = ", ".join(f"'{c}'" for c in cols) + " columns"
            raise CompileError(
                f"{name}() requires a flow over a table with {what} ({hint})"
            )
    # The EAGER model-state methods run compile-time Spark jobs (sketch
    # builds, per-partition counts, iterative contractions) a streaming
    # flow cannot execute: under df_stream they fail as a NAMED error
    # with the remedy, not as the kernel's opaque 'Queries with
    # streaming sources must be executed with writeStream.start()'
    # (same spirit as the theta_join batch-only guard).  Only flagged
    # rows pay the isStreaming call.
    if m.batch and v.flow.df.isStreaming:
        raise CompileError(
            f"{name}() is batch-only — it runs compile-time model"
            " jobs a stream cannot execute; drain the stream first"
            " (run_stream) or query the batch mount"
        )
    return m.bind(cc, ctx, v, args, name)


def _op(path: str, **fixed):
    """The kernel at ``path`` (``module.function`` under this package),
    imported on first call: the operator modules load pandas and numpy,
    which navigational queries never need.  ``fixed`` pins keyword
    arguments."""
    mod, _, fn = path.rpartition(".")

    def call(*args, **kw):
        kernel = getattr(importlib.import_module(f".{mod}", __package__), fn)
        return kernel(*args, **fixed, **kw)

    return call


def _scope(flow) -> ScopeRef:
    return ScopeRef(flow, flow.alias, flow.table)


def _fm_narrow(flow, key: Column, cols, *extra: Column) -> DataFrame:
    """The narrow ``(doc_id, <cols>...)`` projection a kernel runs on."""
    return flow.df.select(
        key.alias("doc_id"), *[F.col(flow.scope_col(c)).alias(c) for c in cols], *extra
    )


def _fm_sort(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    flow = v.flow
    scope = _scope(flow)
    keys: list[tuple[str, bool]] = []
    newcols: dict[str, Column] = {}
    for a in args:
        asc = True
        if isinstance(a, N.Direction):
            asc, a = a.ascending, a.expr
        col = cc.scalar(ctx, scope, a).col
        cname = cc.engine.fresh("__ord")
        newcols[cname] = col
        keys.append((cname, asc))
    if newcols:
        flow.df = flow.df.withColumns(newcols)
    pk_tail = []
    if flow.table is not None:
        pk_tail = [(flow.scope_col(c), True) for c in flow.table.pk]
    flow.order = keys + pk_tail
    flow.explicit_order = True
    return v


def _fm_limit(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """limit(n[, skip]) and top(n[, skip]) — global on the output flow,
    per-parent ``row_number`` window when correlated (reference:
    src/htsql/core/tr/space.py::ClippedSpace)."""
    vals = []
    for a in args:
        if not (isinstance(a, N.Literal) and isinstance(a.value, int)):
            raise CompileError(f"{name}() arguments must be integer literals")
        vals.append(a.value)
    n = vals[0]
    skip = vals[1] if len(vals) > 1 else 0
    flow = v.flow
    okeys = flow.order or (
        [(flow.scope_col(c), True) for c in flow.table.pk] if flow.table else []
    )
    if v.corr_inner:
        w = Window.partitionBy(*[F.col(c) for c in v.corr_inner]).orderBy(*order_cols(okeys))
        rn = cc.engine.fresh("__rn")
        flow.df = (
            flow.df.withColumn(rn, F.row_number().over(w))
            .filter((F.col(rn) > skip) & (F.col(rn) <= skip + n))
            .drop(rn)
        )
    else:
        df = flow.df.orderBy(*order_cols(okeys)) if okeys else flow.df
        if skip:
            df = df.offset(skip)
        flow.df = df.limit(n)
    return v


def _fm_define(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    for a in args:
        if not isinstance(a, N.Assignment):
            raise CompileError("define() takes name := expr arguments")
        if a.is_reference:
            cc.bind_reference(ctx, _scope(v.flow), a.name, a.expr)
        else:
            ctx.names[a.name] = a.expr
    return v


def _fm_survivor_key(
    cc: Compiler, ctx: Ctx, v: FlowV, args, method: str, example: str | None = None
):
    """The survivor/join key for a keyed flow method: an explicit
    expression argument, else the table's single-column primary key
    (shared by every keyed flow method — same contract, same error
    text shape).  ``example`` is the method-correct call to suggest
    on pk-less mounts: for methods whose key is the SECOND argument
    (tfidf/budget/sample/dsir/pack) the bare ``method(doc_id)``
    suggestion would be wrong — it parses as the first argument."""
    flow = v.flow
    if args:
        return cc.scalar(ctx, _scope(flow), args[0]).col
    if flow.table is None or not flow.table.pk or len(flow.table.pk) != 1:
        raise CompileError(
            f"{method}() needs a single-column primary key — pass the"
            f" survivor key explicitly, e.g. {example or method + '(doc_id)'}"
        )
    return F.col(flow.scope_col(flow.table.pk[0]))


def _fm_register_extra(flow, names: list[str], prefix: str, public: str) -> None:
    """Expose operator-appended columns as ``{public}*`` navigable
    attributes (shared by every appending flow method)."""
    for nm in names:
        flow.extra[public + nm[len(prefix):]] = nm


def _fm_join_back(cc: Compiler, flow, key, scored, join_key: str = "doc_id") -> None:
    """Inner-join a narrow scored/expanded table back onto the flow by
    the survivor key (the corpus side keeps its plan; the join ships
    the key plus the few appended columns)."""
    keyc = cc.engine.fresh("__jk")
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(scored.withColumnRenamed(join_key, keyc), keyc, "inner")
        .drop(keyc)
    )


def _fm_drop_losers(cc: Compiler, flow, key, pairs) -> None:
    """The pairwise greater-key survivor rule shared by every dedup
    tier: each verified (a < b) pair's ``b`` is dropped via a LEFT
    ANTI join that ships ids only."""
    losers = pairs.select("b").distinct()
    keyc = cc.engine.fresh("__dk")
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(losers.withColumnRenamed("b", keyc), keyc, "left_anti")
        .drop(keyc)
    )


def _fm_int_lit(args, i: int, default: int, method: str, least=None, what="") -> int:
    if len(args) <= i:
        return default
    a = args[i]
    if not (isinstance(a, N.Literal) and isinstance(a.value, int)):
        raise CompileError(f"{method}() argument {i + 1} must be an integer literal")
    if least is not None and a.value < least:
        raise CompileError(f"{method}() needs {what} >= {least}")
    return a.value


def _fm_str_lit(args, i: int, method: str) -> str:
    a = args[i]
    if not (isinstance(a, N.Literal) and isinstance(a.value, str)):
        raise CompileError(f"{method}() argument {i + 1} must be a text literal")
    return a.value


def _is_number(a) -> bool:
    return isinstance(a, N.Literal) and isinstance(a.value, (int, float, decimal.Decimal))


def _fm_frac_lit(args, i: int, method: str) -> float:
    if _is_number(args[i]):
        return float(args[i].value)
    raise CompileError(f"{method}() argument {i + 1} must be a numeric literal")


def _fm_interval_lit(args, i: int, method: str) -> str:
    """A window/gap interval literal: 'N seconds|minutes|hours|days'.
    Validated at compile time so a typo is a CompileError, not a
    deep AnalysisException out of F.window."""
    s = _fm_str_lit(args, i, method)
    if not re.fullmatch(r"[1-9]\d* (second|minute|hour|day)s?", s):
        raise CompileError(
            f"{method}() interval must be 'N seconds|minutes|hours|days',"
            f" got {s!r}"
        )
    return s


def _fm_flow_arg(cc: Compiler, ctx: Ctx, args, method: str, example: str) -> FlowV:
    """The flow-valued first argument (a full sub-query evaluated at
    home scope) of decontaminate()/asof()/within()."""
    other = cc.eval(ctx, ScopeRef(cc.engine.home_flow(), "", None), args[0])
    if not isinstance(other, FlowV):
        raise CompileError(
            f"{method}() needs a flow argument (a table or a sieved"
            f" table, e.g. {example})"
        )
    return other


def _fm_attr_args(args, method: str, whats) -> None:
    for i, what in enumerate(whats, 1):
        if not isinstance(args[i], N.Identifier):
            raise CompileError(f"{method}() {what} argument must be an attribute name")


def _appender(sig: str, kernel, tag: str, public: str) -> FlowMethod:
    """A no-argument text method appending the columns ``kernel``
    returns as ``{public}*`` attributes: one in-row projection, zero
    shuffle — a 100 TB corpus is scored at scan speed."""

    def bind(cc, ctx, v, args, name):
        flow = v.flow
        prefix = cc.engine.fresh(tag) + "_"
        flow.df, names = kernel(flow.df, text_col=flow.scope_col("text"), prefix=prefix)
        _fm_register_extra(flow, names, prefix, public)
        return v

    return FlowMethod(sig, 0, 0, bind, (_TEXT,))


def _scorer(
    sig, lo, hi, kernel, tag, outs, public,
    lits=(), target=False, example=None, batch=False,
) -> FlowMethod:
    """A text method that runs ``kernel`` on the narrow (doc_id, text)
    projection and inner-joins its ``outs`` back on the survivor key
    as ``{public}*`` attributes.  Leading arguments are the integer
    ``lits`` (kwarg, default, least) or, with ``target``, a boolean
    expression; the optional key comes last.  A kernel that yields
    several rows per document expands the flow (plural-expansion
    semantics: documents with no rows drop out).  The join back ships
    the key plus a few numbers, never text."""
    outs = [o if isinstance(o, tuple) else (o, o) for o in outs]

    def bind(cc, ctx, v, args, name):
        flow = v.flow
        kw = {
            kwarg: _fm_int_lit(args, i, default, name, least, kwarg)
            for i, (kwarg, default, least) in enumerate(lits)
        }
        extra = []
        if target:
            scope = _scope(flow)
            pred = fnlib.to_boolean(cc, scope, cc.scalar(ctx, scope, args[0]).col)
            extra, kw["target"] = [pred.alias("__tgt")], F.col("__tgt")
        key = _fm_survivor_key(cc, ctx, v, args[len(kw):], name, example)
        narrow = _fm_narrow(flow, key, ("text",), *extra)
        prefix = cc.engine.fresh(tag) + "_"
        scored = kernel(narrow, **kw).select(
            F.col("doc_id"), *[F.col(o).alias(prefix + p) for o, p in outs]
        )
        _fm_join_back(cc, flow, key, scored)
        _fm_register_extra(flow, [prefix + p for _, p in outs], prefix, public)
        return v

    return FlowMethod(sig, lo, hi, bind, (_TEXT,), batch)


def _dropper(sig: str, kernel, needs=(_TEXT,)) -> FlowMethod:
    """dedup_*([key]) — drop every document that near-duplicates a
    smaller-keyed one: ``kernel`` returns the verified (a < b) pairs of
    the narrow (doc_id, <needs>) projection and the pairwise
    greater-key survivor rule removes each pair's ``b`` — deterministic
    and SQL-replayable.  Candidates are bucketed, never all-pairs; the
    anti join ships ids only and the corpus keeps its partitioning."""

    def bind(cc, ctx, v, args, name):
        key = _fm_survivor_key(cc, ctx, v, args, name)
        narrow = _fm_narrow(v.flow, key, [c for cols, _ in needs for c in cols])
        _fm_drop_losers(cc, v.flow, key, kernel(narrow))
        return v

    return FlowMethod(sig, 0, 1, bind, needs)


def _fm_top_level(v: FlowV, method: str) -> None:
    if v.corr_outer:
        raise CompileError(
            f"{method}() is not defined on a correlated sub-flow —"
            " apply it to a top-level flow"
        )


def _fm_reshape(cc: Compiler, v: FlowV, method: str, res, names: list[str]) -> FlowV:
    """Replace the flow with the derived relation ``res`` — the
    RESHAPING flow methods yield a different row grain than their
    input.  The result is a projection-style scope: ``names`` become
    the flow's attributes, resolved through the kernel exactly like
    ``^``-quotient output, so selection / sieve / sort / limit all
    compose after the reshape (``/events.retention()?week_offset>0``)."""
    _fm_top_level(v, method)
    prefix = cc.engine.fresh("__" + method[:3]) + "_"
    cols = {n: prefix + n for n in names}
    nf = Flow(
        cc.engine,
        res.select(*[F.col(n).alias(cols[n]) for n in names]),
        "",
        None,
    )
    nf.kernel = [(n, cols[n]) for n in names]
    # ordered-parity: like a quotient, the reshaped relation's implicit
    # order is its kernel (materialized only under engine.ordered or an
    # explicit sort — compile.finalize)
    nf.order = [(c, True) for _, c in nf.kernel]
    v.flow = nf
    v.corr_inner = []
    v.singular = False
    v.value = None
    return v


def _events(sig, lo, hi, cols, names, lower, takes=None) -> FlowMethod:
    """Reshape an events flow: ``lower(narrow, args, name)`` runs the
    kernel on the narrow ``cols`` projection (named like the events
    table) and ``names`` become the attributes."""

    def bind(cc, ctx, v, args, name):
        narrow = v.flow.df.select(*[F.col(v.flow.scope_col(c)).alias(c) for c in cols])
        return _fm_reshape(cc, v, name, lower(narrow, args, name), names)

    return FlowMethod(sig, lo, hi, bind, _events_need(*cols), takes=takes)


def _fm_value_list(cc: Compiler, ctx: Ctx, scope: ScopeRef, node, method: str):
    """A ``{expr, name := expr, ...}`` selection argument of a sketch
    reshape (the multi-expression form, like the agg family's mapped
    selections): returns ``[(name, Column)]``.  Bare items must be
    attribute names (the name IS the output label); computed
    expressions need an alias."""
    out: list[tuple[str, Column]] = []
    for item in node.items:
        if isinstance(item, N.Identifier):
            out.append((item.name, cc.scalar(ctx, scope, item).col))
        elif isinstance(item, N.Assignment):
            out.append((item.name, cc.scalar(ctx, scope, item.expr).col))
        else:
            raise CompileError(
                f"{method}() selection items must be attribute names"
                " or aliased expressions (name := expr)"
            )
    if len({n for n, _ in out}) != len(out):
        raise CompileError(f"{method}() names a value expression twice")
    if not out:
        raise CompileError(f"{method}() selection list is empty")
    return out


def _sketch(sig, lo, hi, takes, one, outs, lead=None, batch=False) -> FlowMethod:
    """A sketch reshape ``name(expr|{a, b := expr}[, <lead>...][, group...])``.
    ``lead(args, name)`` parses the literals after the value argument
    and returns ``(params, index of the first group)``; ``outs(params)``
    names the kernel's output attributes and ``one(df, expr, groups,
    params, multi)`` builds one sketch relation of columns groups +
    outs.  The multi-expression form runs one sketch per listed
    expression (each keeps its own accuracy and certificate) and
    unions them under a leading ``attr`` label.  Group arguments are
    attribute names: they become output attributes, so a name that
    collides with an output is rejected at compile time, before
    resolution, instead of as an ambiguous column at execution."""

    def bind(cc, ctx, v, args, name):
        _fm_top_level(v, name)  # before any (possibly eager) sketch job
        params, first_group = lead(args, name) if lead else (None, 1)
        flow = v.flow
        scope = _scope(flow)
        if isinstance(args[0], N.Selection):
            exprs = _fm_value_list(cc, ctx, scope, args[0], name)
        else:
            exprs = [(None, cc.scalar(ctx, scope, args[0]).col)]
        multi = len(exprs) > 1 or exprs[0][0] is not None
        names = ["attr"] * multi + outs(params)
        shown = " / ".join(names)
        if multi and any(n in names for n, _ in exprs):
            raise CompileError(
                f"{name}() value-expression name collides with an output"
                f" attribute ({shown}) — alias it"
            )
        groups: list[tuple[str, Column]] = []
        for a in args[first_group:]:
            if not isinstance(a, N.Identifier):
                raise CompileError(
                    f"{name}() group arguments must be attribute names, listed last"
                )
            if a.name in names:
                raise CompileError(
                    f"{name}() group name {a.name!r} collides with an output"
                    f" attribute ({shown})"
                )
            groups.append((a.name, cc.scalar(ctx, scope, a).col))
        gnames = [g for g, _ in groups]
        if len(set(gnames)) != len(gnames):
            raise CompileError(f"{name}() names a group twice")
        # a single sketch streams as-is when its kernel is lazy (its
        # mergeable states ARE a streaming aggregate), but the multi form
        # unions one streaming aggregate per expression — Spark allows at
        # most one per query, so it is never streaming-legal
        if multi and not batch and flow.df.isStreaming:
            raise CompileError(
                f"multi-expression {name}() is batch-only — it unions one"
                " streaming aggregate per expression; drain the stream"
                " first (run_stream) or sketch one expression per query"
            )
        if not multi:
            res = one(flow.df, exprs[0][1], groups, params, False)
            return _fm_reshape(cc, v, name, res, gnames + names)
        parts = [
            one(flow.df, expr, groups, params, True).select(
                *gnames, F.lit(label).alias("attr"), *names[1:]
            )
            for label, expr in exprs
        ]
        res = functools.reduce(DataFrame.unionByName, parts)
        return _fm_reshape(cc, v, name, res, gnames + names)

    return FlowMethod(sig, lo, hi, bind, (), batch, takes)


def _hll_one(df, expr, groups, _params, _multi):
    narrow = df.select(expr.alias("__dc"), *[c.alias(g) for g, c in groups])
    return _op("operators.sketches.hll_distinct")(
        narrow, [g for g, _ in groups], "__dc", lgk=14
    )


def _kll_lead(args, name):
    """quantiles' fraction literals: the run of numeric literals after
    the value argument (any later argument is a group name)."""
    i, qs = 1, []
    while i < len(args) and _is_number(args[i]):
        qs.append(_fm_frac_lit(args, i, name))
        i += 1
    if not qs:
        raise CompileError(
            "quantiles(expr, q1[, q2...][, group...]) takes a value"
            " expression and at least one quantile literal"
        )
    if not all(0 < q <= 1 for q in qs):
        raise CompileError("quantiles() fractions must be in (0, 1]")
    return qs, i


def _kll_outs(qs):
    # the kernel's own naming formula — the collision check must
    # reserve exactly the names the kernel will emit
    from .operators.sketches import kll_quantile_name

    return ["n", "err"] + [kll_quantile_name(q) for q in qs]


def _kll_one(df, expr, groups, qs, _multi):
    from .operators import sketches as S

    by = [g for g, _ in groups] or None
    narrow = df.select(expr.cast("double").alias("__qv"), *[c.alias(g) for g, c in groups])
    try:
        return S.kll_quantiles(
            S.kll_merge(S.kll_sketch_states(narrow, "__qv", by=by, k=256), by=by), qs
        )
    except ValueError as exc:  # e.g. duplicate quantiles
        raise CompileError(f"quantiles(): {exc}") from None


def _mg_lead(args, name):
    min_freq = _fm_frac_lit(args, 1, name) if len(args) == 2 else 0.01
    if not 0 < min_freq <= 1:
        raise CompileError(f"{name}() needs min_freq in (0, 1]")
    return min_freq, 2


def _mg_one(df, expr, _groups, min_freq, multi):
    # the multi form casts items to text so the per-expression results
    # union into one flow
    narrow = df.select((expr.cast("string") if multi else expr).alias("item"))
    return _op("operators.sketches.heavy_hitters")(narrow, "item", min_freq=min_freq)


def _cms_piece(p: Column) -> Column:
    # composite probe key: groups fold into the hashed value so one
    # matrix serves every group.  The encoding must be INJECTIVE for
    # arbitrary strings (a separator-joined concat lets a value
    # CONTAINING the separator alias a different combination,
    # collapsing two distinct (group..., item) rows into one merged
    # estimate) — so each part is length-prefixed ('S<len>:<text>',
    # NULL → 'N'): the digit run ends at the first ':' and the length
    # then delimits the text, so decoding is unambiguous for any value,
    # separators and sentinels included.
    return F.when(p.isNull(), F.lit("N")).otherwise(
        F.concat(F.lit("S"), F.length(p).cast("string"), F.lit(":"), p)
    )


def _cms_one(df, expr, groups, _params, _multi):
    from .operators import sketches as S

    eps, delta = 0.01, 1e-4
    parts = [c.cast("string") for _, c in groups] + [expr.cast("string")]
    # group attributes keep their ORIGINAL type in the output (only the
    # probe key needs the string fold — a text-cast group column breaks
    # downstream numeric sieves)
    narrow = df.select(
        F.concat(*[_cms_piece(p) for p in parts]).alias("__ck"),
        *[c.alias(g) for g, c in groups],
        expr.cast("string").alias("item"),
    )
    matrix, _depth, _width = S.cms_build(narrow, "__ck", eps=eps, delta=delta)
    n_total = int(sum(matrix[0]))  # row sums of the matrix ARE n
    est = S.cms_estimate(narrow.dropDuplicates(["__ck"]), "__ck", matrix, flag="est_n")
    return est.select(
        *[g for g, _ in groups], "item", "est_n",
        F.lit(n_total).alias("n"), F.lit(int(math.ceil(eps * n_total))).alias("err"),
    )


def _fm_dedup_exact(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """dedup_exact([key]) — keep only the first (min key) document of
    every exact-content fingerprint group: the language form of the
    curation pipeline's exact-dedup stage.  The survivor key defaults
    to the table's single-column primary key; pass an expression for
    keyless mounts (``tweak.filedb``-style reflected catalogs have no
    pk metadata).  ONE shuffle on the fingerprint (a min-over-Window,
    no join); at 100 TB only the narrow (fp, key) pair drives the
    exchange while every other column rides along the same
    partitioning."""
    flow = v.flow
    key = _fm_survivor_key(cc, ctx, v, args, name)
    fpc = cc.engine.fresh("__fp")
    keyc = cc.engine.fresh("__dk")
    mnc = cc.engine.fresh("__mn")
    w = Window.partitionBy(F.col(fpc))
    fingerprint = _op("operators.textstats.fingerprint")
    flow.df = (
        flow.df.withColumn(fpc, fingerprint(F.col(flow.scope_col("text"))))
        .withColumn(keyc, key)
        .withColumn(mnc, F.min(F.col(keyc)).over(w))
        .filter(F.col(keyc) == F.col(mnc))
        .drop(fpc, keyc, mnc)
    )
    return v


def _fm_near(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """near(query_id[, k]) — restrict an embeddings-shaped flow to the
    k approximate nearest neighbours of the row keyed ``query_id``,
    appending the match score as ``near_cos4`` (IVF-PQ asymmetric
    distance: operators.similarity.topk_ivfpq, the same seeded
    coarse/fine quantizers as the op_ann_ivfpq registry row).
    ``/embeddings.near(0, 10){vec_id, label, near_cos4}``.  The probe
    set is a literal IN (planning-time pruning); the join back ships
    k ids — at 100 TB the corpus-side cost is the nprobe-cell ADC
    scan, nothing else."""
    flow = v.flow
    qid = _fm_int_lit(args, 0, 0, name)
    k = _fm_int_lit(args, 1, 10, name, 1, "k")
    if not flow.table.pk or len(flow.table.pk) != 1:
        raise CompileError("near() needs a single-column primary key")
    key = F.col(flow.scope_col(flow.table.pk[0]))
    label = (
        F.col(flow.scope_col("label"))
        if "label" in flow.table.columns
        else F.lit(None).cast("string")
    )
    narrow = flow.df.select(
        key.alias("vec_id"),
        F.col(flow.scope_col("embedding")).alias("embedding"),
        label.alias("label"),
    )
    prefix = cc.engine.fresh("__near") + "_"
    res = _op("operators.similarity.topk_ivfpq")(narrow, query_id=qid, topk=k).select(
        F.col("vec_id"), F.col("cos4").alias(f"{prefix}cos4")
    )
    _fm_join_back(cc, flow, key, F.broadcast(res), join_key="vec_id")
    flow.extra["near_cos4"] = f"{prefix}cos4"
    return v


def _fm_sample(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """sample(frac[, key]) — deterministic content-stable sampling:
    keep the rows whose salted md5 key prefix falls below the
    fraction threshold (operators.pipeline's hash-split kernel, salt
    ``'sample'``).  Unlike ``TABLESAMPLE``/``rand()`` the decision is
    a pure function of the key, so re-runs, retries, and different
    partition layouts all select the SAME rows — the property a
    training-data pipeline needs for reproducible subsets.  Narrow,
    zero shuffle, no action."""
    from .operators.pipeline import _hash_prefix, frac_hex

    frac = _fm_frac_lit(args, 0, name)
    if not 0.0 <= frac <= 1.0:
        raise CompileError("sample() needs a fraction between 0 and 1")
    key = _fm_survivor_key(cc, ctx, v, args[1:], name, example="sample(0.25, doc_id)")
    v.flow.df = v.flow.df.filter(_hash_prefix(key, "sample") < F.lit(frac_hex(frac)))
    return v


def _fm_split(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """split([name[, key]]) — the train/valid/test assignment
    (operators.pipeline.split_expr, the hash_split 90/5/5 kernel) as
    language surface.  ``split()`` appends the assignment as the
    ``split`` attribute; ``split('train')`` restricts the flow to the
    named split.  Deterministic per key: every engine that hashes the
    same key agrees on the split, so train/eval separation survives
    re-ingestion — and the sieve form composes with everything
    downstream (``/documents.split('test').dedup_exact(){doc_id}``).
    Narrow, zero shuffle."""
    split_expr = _op("operators.pipeline.split_expr")
    flow = v.flow
    # append form: split() on a pk'd flow, or split(key_expr) on a
    # pk-less mount (a non-text-literal first argument is the key).
    # Its own arity check: which form applies depends on the first
    # argument, which the table's argument range cannot see.
    if not args or not (isinstance(args[0], N.Literal) and isinstance(args[0].value, str)):
        if len(args) > 1:
            raise CompileError("split(key) takes at most one argument")
        key = _fm_survivor_key(cc, ctx, v, args, name, example="split(doc_id)")
        col = cc.engine.fresh("__spl")
        flow.df = flow.df.withColumn(col, split_expr(key))
        flow.extra["split"] = col
        return v
    split = _fm_str_lit(args, 0, name)
    names = ("train", "valid", "test")
    if split not in names:
        raise CompileError(
            f"split() has no split named {split!r} (expected one of"
            f" {', '.join(names)})"
        )
    key = _fm_survivor_key(cc, ctx, v, args[1:], name)
    flow.df = flow.df.filter(split_expr(key) == F.lit(split))
    return v


def _fm_sessionize(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """sessionize([gap_minutes]) — append the per-event 0-based
    session index as the ``session_id`` attribute (operators.
    analytics.append_session_index, the gaps-and-islands kernel the
    batch sessionize aggregation shares): a new session starts when
    the gap to the user's previous event exceeds ``gap_minutes``
    (default 30).  ``/events.sessionize(){user_id, session_id,
    event_id}`` — one shuffle on user_id; both windows share the
    partitioning."""
    flow = v.flow
    gap = _fm_int_lit(args, 0, 30, name, 1, "gap_minutes")
    prefix = cc.engine.fresh("__ses") + "_"
    flow.df, names = _op("operators.analytics.append_session_index")(
        flow.df,
        gap_minutes=gap,
        ts_col=flow.scope_col("ts"),
        user_col=flow.scope_col("user_id"),
        order_col=flow.scope_col("event_id"),
        prefix=prefix,
    )
    flow.extra["session_id"] = names[0]
    return v


def _fm_chunk(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """chunk([n_tokens[, overlap]]) — expand the flow into sliding
    token windows (operators.pipeline.append_chunk_columns, the
    chunk_documents kernel): each row becomes one row per window,
    carrying every original column plus the appended ``chunk_idx`` /
    ``chunk_start`` / ``chunk_n_tokens`` / ``chunk_md5`` attributes.
    Defaults 32-token chunks advancing by 24 (overlap 8).  Pure
    generate-and-slice, no shuffle, no join — a 100 TB corpus chunks
    at scan speed."""
    flow = v.flow
    n = _fm_int_lit(args, 0, 32, name)
    overlap = _fm_int_lit(args, 1, 8, name)
    if n < 1 or overlap < 0 or overlap >= n:
        raise CompileError("chunk() needs n_tokens >= 1 and 0 <= overlap < n_tokens")
    prefix = cc.engine.fresh("__ck") + "_"
    flow.df, names = _op("operators.pipeline.append_chunk_columns")(
        flow.df, chunk_tokens=n, overlap=overlap, text_col=flow.scope_col("text"),
        prefix=prefix,
    )
    _fm_register_extra(flow, names, prefix, "chunk_")
    return v


def _fm_zscore(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """zscore(value, group[, group...]) — append the group-wise
    z-score of any expression as the ``z`` attribute (operators.olap.
    append_zscore, the op_zscore kernel): z = (x − μ_g) / σ_g with
    the group's sample stddev; σ_g = 0 or a single-row group yields
    NULL.  Value and groups are full expressions over the flow
    (``/events.zscore(value, event_type)``).  ONE shuffle on the group
    key — both moments and the normalized value share a single Window
    partitioning.  A group key is REQUIRED: the global (ungrouped)
    z-score would be a single-partition window — compute global
    moments with avg()/stddev() aggregates instead."""
    flow = v.flow
    scope = _scope(flow)
    value = cc.scalar(ctx, scope, args[0]).col
    groups = [cc.scalar(ctx, scope, a).col for a in args[1:]]
    prefix = cc.engine.fresh("__zs") + "_"
    flow.df, names = _op("operators.olap.append_zscore")(
        flow.df, value, groups, prefix=prefix
    )
    flow.extra["z"] = names[0]
    return v


def _fm_mix(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """mix(label, name1, frac1[, name2, frac2, ...]) — restrict the
    flow to a deterministic MIXTURE: partition by the ``label``
    expression, downsample each named partition so the union
    approximates the target weights at the largest feasible total
    (operators.pipeline.mix_corpora, the op_mix kernel — no partition
    is upsampled; the binding one keeps all rows).
    ``/documents.mix(lang, 'en', 0.7, 'de', 0.3)``.  Selection is a
    pure md5 function of the key, so re-runs and re-partitions keep
    the SAME mixture.  Batch-only: fixing the rates runs one count per
    partition at compile time (model-state aggregates, like budget());
    the selection itself is a narrow semi join on ids."""
    flow = v.flow
    label = cc.scalar(ctx, _scope(flow), args[0]).col
    fractions: dict[str, float] = {}
    for i in range(1, len(args), 2):
        part = _fm_str_lit(args, i, name)
        frac = _fm_frac_lit(args, i + 1, name)
        if not 0 < frac <= 1:
            raise CompileError("mix() fractions must be in (0, 1]")
        if part in fractions:
            raise CompileError(f"mix() names a partition twice: '{part}'")
        fractions[part] = frac
    key = _fm_survivor_key(cc, ctx, v, [], name)
    narrow = flow.df.select(key.alias("doc_id"), label.alias("__lbl"))
    sources = {s: narrow.filter(F.col("__lbl") == s).select("doc_id") for s in fractions}
    try:
        mix_corpora = _op("operators.pipeline.mix_corpora")
        selected = mix_corpora(sources, fractions, "doc_id").select("doc_id")
    except ValueError as exc:
        # e.g. a named partition matching zero rows — surface as a
        # language-level error, not a raw ZeroDivisionError/ValueError
        raise CompileError(f"mix(): {exc}") from None
    keyc = cc.engine.fresh("__mk")
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(selected.withColumnRenamed("doc_id", keyc), keyc, "left_semi")
        .drop(keyc)
    )
    return v


def _fm_cluster(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """cluster([key]) — append the near-dup CLUSTER id as the
    ``cluster_id`` attribute: connected components over the bucketed
    character-3-gram Jaccard ≥ 0.5 pair graph (operators.dedup.
    ngram_jaccard_pairs with the production max_bucket=200 cap — the
    deterministic, oracle-replayable tier — then operators.dedup.
    dedup_clusters' large-star/small-star contraction).  Every row
    gets an id: clustered documents share their component's minimum
    key, singletons keep their own.  dedup_*() keeps survivors,
    cluster() EXPOSES the groups (``^{cid := cluster_id}{cid, n :=
    count(^)}`` profiles them).  Batch-only: the star contraction runs
    a bounded iterative job at compile time (O(log² n) rounds over a
    shrinking edge set), like budget()'s histogram walk; at 100 TB the
    pair graph is bucketed (never all-pairs) and only (id, id) edges
    shuffle."""
    import pyspark.sql.types as T

    from .operators.dedup import dedup_clusters, ngram_jaccard_pairs

    flow = v.flow
    key = _fm_survivor_key(cc, ctx, v, args, name)
    narrow = _fm_narrow(flow, key, ("text", "lang"))
    # dedup_clusters casts pair endpoints to long and DROPS nulls —
    # a string key would silently yield all-singleton ids, so reject
    # it loudly at bind time instead
    ktype = narrow.schema["doc_id"].dataType
    if not isinstance(ktype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        raise CompileError(
            "cluster() needs an integral key (the component contraction"
            f" is id-typed); got {ktype.simpleString()} — pass an"
            " integral key expression"
        )
    pairs = ngram_jaccard_pairs(narrow, n=3, threshold=0.5, max_bucket=200)
    keyc = cc.engine.fresh("__ck")
    cid = cc.engine.fresh("__cl") + "_cluster_id"
    clusters = dedup_clusters(pairs).select(
        F.col("doc_id").alias(keyc), F.col("cluster_id").alias(cid)
    )
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(clusters, keyc, "left")
        .withColumn(cid, F.coalesce(F.col(cid), F.col(keyc)))
        .drop(keyc)
    )
    flow.extra["cluster_id"] = cid
    return v


def _fm_profile(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """profile(value, partition, order, tiebreak[, n_tiles]) — append
    the full analytic-window family of ``value`` over one partitioned
    ordering (operators.analytics.append_window_profile, the
    op_window_profile kernel) as ``prof_rnk`` / ``prof_drnk`` /
    ``prof_cume`` / ``prof_prank`` / ``prof_tile`` / ``prof_prev_val``
    / ``prof_next_val`` / ``prof_running_sum``.  All four positions
    are full expressions over the flow.  The reference reaches this
    workload only by delegating to hand-written backend SQL (htsql
    2.3.3 has no window functions, SURVEY §2 F11/F20 boundary); here
    it is language surface.  ONE shuffle on the partition key; both
    Window nodes share the partitioning."""
    flow = v.flow
    scope = _scope(flow)
    value, part, order, tie = (cc.scalar(ctx, scope, a).col for a in args[:4])
    n_tiles = _fm_int_lit(args, 4, 4, name, 1, "n_tiles")
    prefix = cc.engine.fresh("__wp") + "_"
    flow.df, names = _op("operators.analytics.append_window_profile")(
        flow.df, value=value, partition=part, order=order, tiebreak=tie,
        n_tiles=n_tiles, prefix=prefix,
    )
    _fm_register_extra(flow, names, prefix, "prof_")
    return v


def _fm_decontaminate(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """decontaminate(benchmark) — drop every row whose normalized-
    content fingerprint (textstats.fingerprint, the op_contamination
    hash) appears in the BENCHMARK flow: exact-match eval-set
    decontamination as language surface, with the benchmark given as
    a full sub-query (``/documents.decontaminate(eval_docs)``,
    ``/documents.decontaminate(documents?source='bench')``).  The
    benchmark's distinct fingerprints broadcast (eval sets are small
    by nature); the corpus side is one scan + a broadcast LEFT ANTI
    join — the correct 100 TB shape."""
    fingerprint = _op("operators.textstats.fingerprint")
    flow = v.flow
    bflow = _fm_flow_arg(cc, ctx, args, name, "documents?doc_id<100").flow
    if bflow.table is None or "text" not in bflow.table.columns:
        raise CompileError(
            "decontaminate() benchmark must be a flow over a table"
            " with a 'text' column"
        )
    fpc = cc.engine.fresh("__fp")
    fps = bflow.df.select(fingerprint(F.col(bflow.scope_col("text"))).alias(fpc)).distinct()
    flow.df = (
        flow.df.withColumn(fpc, fingerprint(F.col(flow.scope_col("text"))))
        .join(F.broadcast(fps), fpc, "left_anti")
        .drop(fpc)
    )
    return v


def _fm_asof(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """asof(other, on, ts, payload[, direction[, tolerance]]) — append
    the AS-OF match from another flow: for each row, the ``payload``
    of the ``other`` row with an equal ``on`` key nearest in ``ts``
    (operators.joins.asof_join — the op_asof_join kernel: tagged
    union + ordered window, NEVER an inequality join).  Appends
    ``asof_ts`` (the matched row's timestamp) and ``asof_<payload>``;
    unmatched rows keep NULLs.  ``direction`` is 'backward' (default:
    latest other.ts <= ts), 'forward', or 'nearest'.
    ``/(events?event_type='purchase')
    .asof(events?event_type='click', user_id, ts, event_id)``.

    Scale: both sides narrow to (key, on, ts[, payload]) before the
    union — one shuffle on the ``on`` key, one ordered window pass,
    then an id-keyed join back that ships ids + two columns."""
    flow = v.flow
    oflow = _fm_flow_arg(cc, ctx, args, name, "events?event_type='click'").flow
    _fm_attr_args(args, name, ("on", "ts", "payload"))
    direction = _fm_str_lit(args, 4, name) if len(args) >= 5 else "backward"
    if direction not in ("backward", "forward", "nearest"):
        raise CompileError(
            "asof() direction must be 'backward', 'forward' or 'nearest'"
        )
    tolerance = _fm_interval_lit(args, 5, name) if len(args) == 6 else None
    scope, oscope = _scope(flow), _scope(oflow)
    l_on = cc.scalar(ctx, scope, args[1]).col
    l_ts = cc.scalar(ctx, scope, args[2]).col
    r_on = cc.scalar(ctx, oscope, args[1]).col
    r_ts = cc.scalar(ctx, oscope, args[2]).col
    payload = cc.scalar(ctx, oscope, args[3]).col
    pname = args[3].name
    if pname == "ts":
        # the matched timestamp already comes back as asof_ts — a
        # payload of the same name would silently collapse onto it
        raise CompileError(
            "asof() payload 'ts' collides with the appended asof_ts —"
            " the matched timestamp is returned automatically"
        )
    key = _fm_survivor_key(
        cc, ctx, v, [], name,
        example="apply asof() to a flow whose table declares a pk",
    )
    if "asof_ts" in v.flow.extra:
        # a second .asof() would re-register the public 'asof_ts' /
        # 'asof_<payload>' names, silently shadowing the first call's
        # appended attributes (same spirit as the payload=='ts' guard)
        raise CompileError(
            "asof() was already applied to this flow — rename the"
            " first match with a selection ({..., prev := asof_ts})"
            " before matching again"
        )
    prefix = cc.engine.fresh("__ao") + "_"
    left = flow.df.select(key.alias("__ak"), l_on.alias("__on"), l_ts.alias("__ts"))
    right = oflow.df.select(
        r_on.alias("__on"), r_ts.alias("__ts"), payload.alias(f"{prefix}{pname}")
    )
    res = _op("operators.joins.asof_join")(
        left, right, on="__on", left_ts="__ts", right_ts="__ts",
        right_cols=[f"{prefix}{pname}"], direction=direction,
        tolerance=tolerance,
    )
    matched = res.select("__ak", F.col("r___ts").alias(f"{prefix}ts"), f"{prefix}{pname}")
    _fm_join_back(cc, flow, key, matched, join_key="__ak")
    _fm_register_extra(flow, [f"{prefix}ts", f"{prefix}{pname}"], prefix, "asof_")
    return v


def _fm_within(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """within(other, on, ts, payload, other_payload, interval[,
    watermark]) — reshape into the INTERVAL JOIN of two flows: one
    output row per (left row, other row) pair with equal ``on`` whose
    other-``ts`` falls in the left row's PRECEDING ``interval``
    (streaming.events.interval_join — the stream_join kernel's shape:
    ``/(events?event_type='purchase').within(events?event_type=
    'click', user_id, ts, event_id, event_id, '24 hours')`` pairs
    each purchase with the same user's clicks from the last day).
    Attributes ``<on>`` / ``l_ts`` / ``l_<payload>`` / ``r_ts`` /
    ``r_<other_payload>``.  Unlike asof() (ONE nearest match appended
    as columns, cardinality kept) this emits ALL matches as a new
    row grain — and unlike asof() it is STREAMING-LEGAL on both
    sides: under df_stream two stream-mounted flows lower to the
    watermarked stream-stream interval join (state evicted once rows
    age past the window — bounded state at any rate).

    Scale: both sides narrow to (on, ts, payload) before the join;
    one shuffle each on the ``on`` key; the time predicate bounds the
    per-key match fan-out by the window."""
    flow = v.flow
    oflow = _fm_flow_arg(cc, ctx, args, name, "events?event_type='click'").flow
    _fm_attr_args(args, name, ("on", "ts", "payload", "other_payload"))
    window = _fm_interval_lit(args, 5, name)
    watermark = _fm_interval_lit(args, 6, name) if len(args) == 7 else "1 hour"
    scope, oscope = _scope(flow), _scope(oflow)
    on_name = args[1].name
    lp, rp = args[3].name, args[4].name
    names = [on_name, "l_ts", f"l_{lp}", "r_ts", f"r_{rp}"]
    if len(set(names)) != len(names):
        raise CompileError(
            f"within() output attributes collide ({names}) — the on"
            " key must not be named like the prefixed ts/payload"
            " columns"
        )
    left = flow.df.select(
        cc.scalar(ctx, scope, args[1]).col.alias("__lon"),
        cc.scalar(ctx, scope, args[2]).col.alias("l_ts"),
        cc.scalar(ctx, scope, args[3]).col.alias(f"l_{lp}"),
    )
    right = oflow.df.select(
        cc.scalar(ctx, oscope, args[1]).col.alias("__ron"),
        cc.scalar(ctx, oscope, args[2]).col.alias("r_ts"),
        cc.scalar(ctx, oscope, args[4]).col.alias(f"r_{rp}"),
    )
    res = _op("streaming.events.interval_join")(
        left, right, "__lon", "__ron", "l_ts", "r_ts",
        window=window, watermark=watermark,
    ).select(F.col("__lon").alias(on_name), "l_ts", f"l_{lp}", "r_ts", f"r_{rp}")
    return _fm_reshape(cc, v, name, res, names)


def _lower_anomalies(narrow, args, name):
    z = _fm_frac_lit(args, 0, name) if args else 3.0
    if z <= 0:
        raise CompileError("anomalies() z threshold must be positive")
    min_n = _fm_int_lit(args, 1, 10, name)
    if min_n < 2:
        raise CompileError("anomalies() min_n must be at least 2")
    # streaming execution mode (engine.df_stream): the unbounded-
    # preceding window of the batch twin is not streaming-legal, so
    # lower to the STATEFUL kernel itself — expanding (n, Σx, Σx²) per
    # event type in the state store; one availableNow drain is
    # value-identical to the batch twin (the locked (ts, event_id)
    # in-batch ordering)
    kernel = "streaming_anomalies" if narrow.isStreaming else "expanding_anomalies"
    return _op(f"streaming.events.{kernel}")(narrow, z_threshold=z, min_n=min_n)


def _fm_hist(cc: Compiler, ctx: Ctx, v: FlowV, args, name: str):
    """hist(expr[, buckets]) — reshape the flow into the EXACT
    equi-depth histogram of ``expr`` (operators.olap.
    equi_depth_histogram, the op_histogram kernel): attributes
    ``bucket`` / ``lo`` / ``hi`` / ``n``, default 4 buckets.
    Boundaries are exact interpolated percentiles (ANSI quantile_cont
    semantics — oracle-replayable bit-for-bit); NULLs are excluded.
    Lazy (no compile-time job): one single-row boundary aggregate
    broadcast back over the flow, then a map-side-combined count.  The
    exact percentile sorts within groups at 100 TB; the kernel
    documents the approx_percentile swap at identical plan shape.
    Batch-only: the boundary-aggregate broadcast back over the flow is
    a join between two streaming frames — never streaming-legal, so it
    fails at compile with the named remedy, not at drain with Spark's
    opaque AnalysisException."""
    flow = v.flow
    expr = cc.scalar(ctx, _scope(flow), args[0]).col
    buckets = _fm_int_lit(args, 1, 4, name)
    if buckets < 1:
        raise CompileError("hist() bucket count must be at least 1")
    res = _op("operators.olap.equi_depth_histogram")(
        flow.df.select(expr.alias("__h")), "__h", buckets=buckets
    )
    return _fm_reshape(cc, v, name, res, ["bucket", "lo", "hi", "n"])


FLOW_METHODS = {
    "sort": FlowMethod(
        "sort()", 1, None, _fm_sort, takes="needs at least one ordering key"
    ),
    "limit": FlowMethod("limit(n[, skip])", 1, 2, _fm_limit),
    "top": FlowMethod("top(n[, skip])", 1, 2, _fm_limit),
    "define": FlowMethod(
        "define()", 1, None, _fm_define, takes="needs at least one name := expr argument"
    ),
    # -- appenders: one in-row pass over the text, zero shuffle ---------
    # Gopher quality-rule signals (Rae '21), gopher_n_words … gopher_passes
    "gopher": _appender(
        "gopher()", _op("operators.textstats.append_gopher_signals"), "__gop", "gopher_"
    ),
    # lexical diversity: entropy / ttr / n_types / n_words
    "entropy": _appender(
        "entropy()", _op("operators.textstats.append_entropy_signals"), "__ent", ""
    ),
    # hashed bag-of-words linear classifier: cls_n_tokens / cls_score /
    # cls_keep — one narrow codegen'd projection, no explode.  Named
    # classify(), not quality(): quality(text) is the heuristic-tier
    # SCALAR and flow methods shadow scalars in table scope.
    "classify": _appender(
        "classify()", _op("operators.textstats.append_classifier_signals"), "__cls", "cls_"
    ),
    # corpus-profile stats_tokens / _words / _chars / _punct_ratio /
    # _quality / _langid / _fp — pure in-row expressions
    "stats": _appender(
        "stats()", _op("operators.textstats.append_text_stats"), "__st", "stats_"
    ),
    # PII redaction: pii_emails / pii_phones (match counts) and pii_clean
    # (typed placeholders) — codegen'd regexp expressions
    "pii": _appender(
        "pii()", _op("operators.pipeline.append_pii_signals"), "__pii", "pii_"
    ),
    # Gopher-family repetition: rep_n_words / rep_dup_word_frac /
    # rep_top_word_frac / rep_top_bigram_frac — task-local array algebra
    "repetition": _appender(
        "repetition()", _op("operators.textstats.append_repetition_signals"),
        "__rep", "rep_",
    ),
    "dedup_exact": FlowMethod("dedup_exact([key])", 0, 1, _fm_dedup_exact, (_TEXT,)),
    # -- pair droppers ---------------------------------------------------
    # minhash-LSH candidates verified by shingle Jaccard >= 0.5, the same
    # 8x4 band scheme as the op_dedup_minhash row.  reusable_cache=False:
    # a long-lived language service compiles many distinct dedup queries,
    # and unowned cache() entries per plan would grow executor storage
    # without bound.
    "dedup_minhash": _dropper(
        "dedup_minhash([key])",
        _op("operators.dedup.minhash_dedup_pairs", threshold=0.5, reusable_cache=False),
    ),
    # character-3-gram Jaccard >= 0.5 with the production hot-bucket cap
    # (op_dedup_ngram): the (lang, length-band) bucketing is the scale
    # story — worst case #buckets * cap^2, never all-pairs
    "dedup_ngram": _dropper(
        "dedup_ngram([key])",
        _op("operators.dedup.ngram_jaccard_pairs", n=3, threshold=0.5, max_bucket=200),
        (_TEXT, _LANG),
    ),
    # simhash hamming <= 3 with the PORTABLE md5 token hash
    # (op_simhash_pairs_portable, so the tier is oracle-replayable);
    # 4x16-bit banding guarantees recall at hamming <= 3
    "dedup_simhash": _dropper(
        "dedup_simhash([key])",
        _op("operators.dedup.simhash_near_pairs", max_hamming=3, token_hash="md5"),
    ),
    # -- join-back scorers -----------------------------------------------
    # top-k tf-idf terms per document (plural expansion): one explode +
    # two map-side-combined aggregations + a shuffle join back; the term
    # table is never broadcast by force (web-scale vocabularies are
    # themselves huge — AQE still picks broadcast when small)
    "tfidf": _scorer(
        "tfidf([k[, key]])", 0, 2, _op("operators.pipeline.tfidf_top_terms"), "__tfidf",
        ("term", "tf", ("tfidf", "score")), "tfidf_",
        lits=(("k", 3, 1),), example="tfidf(3, doc_id)",
    ),
    # winnowing fingerprints (Schleimer '03, the MOSS sketch) with the
    # portable md5 gram hash (op_winnow_portable): one row per distinct
    # window-min gram hash, produced task-locally at scan speed
    "winnow": _scorer(
        "winnow([key])", 0, 1,
        _op("operators.textstats.winnow_fingerprints", gram_hash="md5"),
        "__wn", ("fp",), "",
    ),
    # unigram-LM perplexity proxy under the corpus's OWN distribution:
    # two term-keyed shuffles (count + probe); the vocabulary is never
    # broadcast — unbounded at 100 TB
    "unigram": _scorer(
        "unigram([key])", 0, 1, _op("operators.pipeline.unigram_logprob"), "__lm",
        ("n_words", "avg_logp", "ppl"), "lm_",
    ),
    # DSIR importance weight (Xie '23) toward the TARGET sub-corpus, any
    # boolean expression over the flow: one (doc, bucket) shuffle; the
    # 1024-row log-ratio table broadcasts
    "dsir": _scorer(
        "dsir(target[, key])", 1, 2, _op("operators.pipeline.dsir_weights"), "__dsir",
        ("n_grams", "logw"), "dsir_", target=True, example="dsir(target, doc_id)",
    ),
    # best-quality documents until n_tokens are selected, in (quality
    # bucket desc, md5(key), key) order: histogram walk +
    # boundary-bucket-only window, NO global sort.  Batch-only: the walk
    # runs a small aggregation job at compile time (<= 1000 rows).
    "budget": _scorer(
        "budget(n_tokens[, key])", 1, 2,
        _op("operators.pipeline.select_token_budget"), "__bud", ("q", "toks"), "budget_", lits=(("budget_tokens", 0, None),),
        example="budget(100000, doc_id)", batch=True,
    ),
    # substring-level duplicated spans (Lee '21): corpus-wide verbatim
    # 40-char windows at 8-char stride merged to maximal spans — one fp
    # shuffle + one doc shuffle
    "dup_spans": _scorer(
        "dup_spans([key])", 0, 1, _op("operators.textstats.duplicated_spans"), "__sp",
        ("n_windows", "dup_windows", "n_spans", "dup_chars", "dup_frac"), "spans_",
    ),
    # concat-and-chunk sequence packing: one row per (document x
    # sequence) span; md5-derived shards each packed with one window
    # cumsum — parallelism is the shard count, no global order
    "pack": _scorer(
        "pack([budget[, key]])", 0, 2, _op("operators.pipeline.pack_sequences"), "__pk",
        ("shard", "seq_id", "offset", "take"), "pack_",
        lits=(("budget", 64, 1),), example="pack(64, doc_id)",
    ),
    # -- other row-keeping methods ---------------------------------------
    "near": FlowMethod("near(query_id[, k])", 1, 2, _fm_near, (_EMBEDDING,)),
    "sample": FlowMethod("sample(frac[, key])", 1, 2, _fm_sample),
    "split": FlowMethod("split([name[, key]])", 0, 2, _fm_split),
    "sessionize": FlowMethod(
        "sessionize([gap_minutes])", 0, 1, _fm_sessionize,
        _events_need("ts", "user_id", "event_id"),
    ),
    "chunk": FlowMethod("chunk([n_tokens[, overlap]])", 0, 2, _fm_chunk, (_TEXT,)),
    "zscore": FlowMethod(
        "zscore(value, group[, group...])", 2, None, _fm_zscore,
        takes="takes a value expression and at least one group expression",
    ),
    "profile": FlowMethod(
        "profile(value, partition, order, tiebreak[, n_tiles])", 4, 5, _fm_profile
    ),
    "decontaminate": FlowMethod(
        "decontaminate(benchmark)", 1, 1, _fm_decontaminate, (_TEXT,),
        takes="takes exactly one flow argument",
    ),
    "cluster": FlowMethod("cluster([key])", 0, 1, _fm_cluster, (_TEXT, _LANG), True),
    "mix": FlowMethod(
        "mix(label, name1, frac1[, name2, frac2, ...])", 3, None, _fm_mix, (), True,
        "takes a label expression and (name, fraction) literal pairs", 2,
    ),
    "asof": FlowMethod(
        "asof(other, on, ts, payload[, direction])", 4, 6, _fm_asof,
        takes="takes a flow argument, three attribute names, an optional"
        " direction and an optional tolerance interval",
    ),
    # -- reshapes ----------------------------------------------------------
    "within": FlowMethod(
        "within(other, on, ts, payload, other_payload, interval[, watermark])",
        6, 7, _fm_within,
        takes="takes a flow argument, three attribute names of this"
        " flow/both/the other flow, an interval literal and an optional"
        " watermark interval (streaming state-eviction bound, default '1 hour')",
    ),
    # strict-sequence funnel (op_funnel): per step, the users whose step-k
    # event follows their earliest step-(k-1) event; one shuffle on
    # user_id, per-user event lists stay array-local
    "funnel": _events(
        "funnel(step1, step2[, ...])", 2, None, ("ts", "user_id", "event_type"),
        ["step", "event_type", "users"],
        lambda d, a, m: _op("operators.analytics.funnel")(
            d, [_fm_str_lit(a, i, m) for i in range(len(a))]
        ),
        takes="takes at least two step literals",
    ),
    # weekly first-touch cohort retention (op_retention): two shuffles on
    # user_id sharing the partitioning, then one on the cohort key
    "retention": _events(
        "retention()", 0, 0, ("ts", "user_id"), ["cohort_week", "week_offset", "users"],
        lambda d, a, m: _op("operators.analytics.retention")(d),
    ),
    # next-event Markov transition counts (op_transitions); the (ts,
    # event_id) sort key makes the sequence total and the result
    # deterministic: one shuffle for the lead window, one for the count
    "transitions": _events(
        "transitions()", 0, 0, ("ts", "user_id", "event_type", "event_id"),
        ["event_type", "next_type", "n"],
        lambda d, a, m: _op("operators.analytics.transitions")(d),
    ),
    # the SAME F.window plans the stream kernels run (stream_tumbling /
    # stream_sliding / stream_session).  Over a static table the
    # watermark is a no-op, so ALL windows emit — the language sees the
    # complete history, where the stream's availableNow drain emits the
    # watermark-closed prefix.  Tumbling: one map-side-combined shuffle on
    # (window, event_type); sessions: one shuffle on user_id.
    "tumbling": _events(
        "tumbling(interval)", 1, 1, ("ts", "event_type", "value"),
        ["w_start", "w_end", "event_type", "n", "total"],
        lambda d, a, m: _op("streaming.events.tumbling_counts")(
            d, window=_fm_interval_lit(a, 0, m)
        ),
        takes="takes exactly one interval literal",
    ),
    "sliding": _events(
        "sliding(window, slide)", 2, 2, ("ts", "value"), ["w_start", "avg_value", "n"],
        lambda d, a, m: _op("streaming.events.sliding_event_avg")(
            d, window=_fm_interval_lit(a, 0, m), slide=_fm_interval_lit(a, 1, m)
        ),
        takes="takes exactly two interval literals",
    ),
    "sessions": _events(
        "sessions([gap])", 0, 1, ("ts", "user_id"), ["user_id", "s_start", "s_end", "n"],
        lambda d, a, m: _op("streaming.events.session_counts")(
            d, gap=_fm_interval_lit(a, 0, m) if a else "30 minutes"
        ),
        takes="takes at most one interval literal",
    ),
    # expanding per-event-type z-score against everything seen EARLIER
    # in (ts, event_id) order: the value-identical batch twin of the
    # stateful stream_anomaly kernel
    "anomalies": _events(
        "anomalies([z[, min_n]])", 0, 2, ("ts", "event_id", "event_type", "value"),
        ["event_id", "event_type", "value", "n_prior", "z"], _lower_anomalies,
    ),
    # -- sketch reshapes: the single-pass answers exact queries cannot
    # give at 100 TB — only per-partition states shuffle ------------------
    # HLL distinct counts (op_hll_distinct, lgK=14 => sigma ~0.8%): the
    # shuffle moves per-group sketches, not per-row keys
    "distinct_count": _sketch(
        "distinct_count(expr[, group...])", 1, None,
        "takes a value expression and optional group attribute names",
        _hll_one, lambda _: ["approx_distinct"],
    ),
    # KLL quantiles (op_kll_quantiles, k=256): exact n, certified rank
    # error err, one pXX per fraction.  One lazy Arrow pass builds
    # bounded per-(partition, group) states (mapInPandas states +
    # applyInPandas merge, no driver action), so the single form streams
    # with drain parity; the certificates are per-attr in the multi form
    # because null counts differ per expression
    "quantiles": _sketch(
        "quantiles(expr, q1[, q2...][, group...])", 2, None,
        "takes a value expression and at least one quantile literal",
        _kll_one, _kll_outs, _kll_lead,
    ),
    # EXACT frequent items at sketch cost (per-partition Misra-Gries
    # summaries + a broadcast-restricted recount — the distinct-value
    # table is never shuffled).  Batch-only: the pass is EAGER
    # (mapInPandas + localCheckpoint).
    "heavy_hitters": _sketch(
        "heavy_hitters(expr[, min_freq])", 1, 2, None,
        _mg_one, lambda _: ["item", "cnt", "freq"], _mg_lead, True,
    ),
    # Count-Min point frequencies (op_cms, eps=0.01, delta=1e-4): est_n
    # never underestimates, err = ceil(eps * n) bounds the overestimate
    # with probability >= 1 - delta.  Groups fold into the hashed
    # composite, so ONE depth x width matrix (d*w longs at any corpus
    # size) answers every grouped query.  Batch-only: the matrix build
    # is EAGER (one Arrow pass + a tiny merge at compile time); the
    # estimate pass is map-side only.
    "freq": _sketch(
        "freq(expr[, group...])", 1, None,
        "takes a value expression and optional group attribute names",
        _cms_one, lambda _: ["item", "est_n", "n", "err"], batch=True,
    ),
    "hist": FlowMethod(
        "hist(expr[, buckets])", 1, 2, _fm_hist, (), True,
        "takes a value expression and an optional bucket-count literal",
    ),
}


# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------
def _coerce_identity_part(part, dtype, table: str, col: str) -> Column:
    """Coerce an untyped identity-literal part to the identity
    column's domain (reference: tr/coerce.py::coerce applied to
    IdentityDomain fields) — mismatches fail at bind time."""
    import pyspark.sql.types as T

    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        if isinstance(part, str):
            try:
                part = int(part)
            except ValueError:
                raise CompileError(
                    f"identity part {part!r} does not coerce to "
                    f"{table}.{col} ({dtype.simpleString()})"
                ) from None
        return F.lit(part)
    if isinstance(dtype, T.StringType):
        return F.lit(str(part))
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        # coerce in PYTHON so a bad literal is a bind error, not a
        # NULL-yielding runtime cast (the documented contract)
        import datetime

        s = str(part)
        try:
            if isinstance(dtype, T.DateType):
                return F.lit(datetime.date.fromisoformat(s))
            return F.lit(datetime.datetime.fromisoformat(s))
        except ValueError:
            raise CompileError(
                f"identity part {part!r} does not coerce to "
                f"{table}.{col} ({dtype.simpleString()})"
            ) from None
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        try:
            return F.lit(float(part))
        except (TypeError, ValueError):
            raise CompileError(
                f"identity part {part!r} does not coerce to "
                f"{table}.{col} ({dtype.simpleString()})"
            ) from None
    raise CompileError(
        f"{table}.{col} has domain {dtype.simpleString()}, which is not"
        " a supported identity-column type (int/text/date/timestamp/"
        "numeric)"
    )


def _iter_child_nodes(n: N.Node):
    import dataclasses

    if not dataclasses.is_dataclass(n):
        return
    for f in dataclasses.fields(n):
        v = getattr(n, f.name)
        if isinstance(v, N.Node):
            yield v
        elif isinstance(v, list):
            for x in v:
                if isinstance(x, N.Node):
                    yield x


def _find_references(node: N.Node) -> set[str]:
    """Names of every $reference in the subtree."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, N.Reference):
            out.add(n.name)
        stack.extend(_iter_child_nodes(n))
    return out


def _is_scope_free(node: N.Node) -> bool:
    """True when the expression depends on no row context (pure
    literals and operators over them) — safe to re-evaluate in any
    scope."""
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (N.Identifier, N.Wildcard, N.Complement, N.Reference)):
            return False
        stack.extend(_iter_child_nodes(n))
    return True


def _binding_fingerprint(ctx: Ctx, node: N.Node) -> tuple:
    """Identity of every define()d name / $reference the subtree can
    reach (transitively).  Guards the name_memo: the same AST node
    re-evaluated after a shadowing re-define or under different
    given() bindings gets a different key, never a stale column."""
    seen: set[int] = set()
    out: list[tuple[str, int]] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in seen:
            continue
        seen.add(id(n))
        if isinstance(n, N.Identifier) and n.name in ctx.names:
            bound = ctx.names[n.name]
            out.append((n.name, id(bound)))
            stack.append(bound)
        elif isinstance(n, N.Reference) and n.name in ctx.refs:
            bound = ctx.refs[n.name]
            out.append(("$" + n.name, id(bound)))
            if isinstance(bound, N.Node):
                stack.append(bound)
        stack.extend(_iter_child_nodes(n))
    return tuple(sorted(set(out)))


def _find_agg_applications(node: N.Node) -> list[N.Apply]:
    """All aggregate Apply nodes inside one selection item, however
    deeply nested in scalar expressions — but not across scope
    boundaries (segments, selections, sieves keep their own pass)."""
    out: list[N.Apply] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (N.Direction,)):
            stack.append(n.expr)
        elif isinstance(n, N.Assignment):
            stack.append(n.expr)
        elif isinstance(n, N.Operator):
            stack.extend((n.lhs, n.rhs))
        elif isinstance(n, N.Unary):
            stack.append(n.operand)
        elif isinstance(n, N.Apply):
            if n.name.lower() in fnlib.AGGREGATES and n.args:
                out.append(n)
            else:
                stack.extend(n.args)
    return out


def _split_flow_value(arg: N.Node):
    """Decompose an aggregate argument into (flow expression, trailing
    define()s, value name path) so that aggregates over the SAME flow
    expression (by structural repr) can share one lowering.  Returns
    None when the arg is a bare name chain (pure-chain / one-off logic
    owns those)."""
    defines: list[N.Assignment] = []
    vpath: list[str] = []
    cur = arg
    while isinstance(cur, N.Compose):
        op = cur.op
        if isinstance(op, N.Identifier):
            vpath.insert(0, op.name)
            cur = cur.base
            continue
        if (
            isinstance(op, N.Apply)
            and op.name.lower() == "define"
            and all(isinstance(a, N.Assignment) and not a.is_reference for a in op.args)
        ):
            defines = list(op.args) + defines
            cur = cur.base
            continue
        break
    if isinstance(cur, (N.Identifier, N.Complement)) and not defines:
        return None  # bare chain — stage-1 / one-off territory
    return cur, defines, vpath


def _pure_chain(node: N.Node) -> list[str] | None:
    """`^`, `link`, `link.link.col` … as a plain name list; None for
    anything with filters/computation (those stay on the one-off
    aggregate path)."""
    if isinstance(node, N.Complement):
        return ["^"]
    if isinstance(node, N.Identifier):
        return [node.name]
    if isinstance(node, N.Compose):
        base = _pure_chain(node.base)
        if base is not None and isinstance(node.op, N.Identifier):
            return base + [node.op.name]
    return None


def order_cols(order: list[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def literal_col(node: N.Literal) -> Column:
    import decimal

    if node.domain == "decimal" and isinstance(node.value, decimal.Decimal):
        return F.lit(float(node.value))
    return F.lit(node.value)


def _struct_comparator(okeys: list[tuple[str, bool]]):
    """Comparator over the leading __oN struct fields for
    ``array_sort`` (supports mixed asc/desc)."""

    def cmp(x, y):
        result = F.lit(0)
        for i in reversed(range(len(okeys))):
            _, asc = okeys[i]
            f = f"__o{i}"
            lt, gt = (-1, 1) if asc else (1, -1)
            result = (
                F.when(x[f].isNull() & y[f].isNull(), result)
                .when(x[f].isNull(), F.lit(gt))  # nulls last in asc
                .when(y[f].isNull(), F.lit(lt))
                .when(x[f] < y[f], F.lit(lt))
                .when(x[f] > y[f], F.lit(gt))
                .otherwise(result)
            )
        return result

    return cmp


def _empty_array_type(df: DataFrame, out: list[tuple[str, str]]) -> str:
    """DDL string for the empty-array fallback of a nested segment."""
    sub = df.select(*[F.col(c).alias(n) for n, c in out])
    fields = ", ".join(f"`{f.name}`: {f.dataType.simpleString()}" for f in sub.schema.fields)
    return f"array<struct<{fields}>>"
