"""Transformation / Rule / dependency-injection executor.

Reimplements the reference's execution model (SURVEY.md §3.A A1–A8,
§4.1; upstream:inxs/__init__.py#Transformation/#Rule, unverifiable this
session — SURVEY.md §0):

1. deep-copy the input tree unless ``copy=False``
2. build the context namespace from config ``context`` + call kwargs;
   bind ``tree``/``root``/``transformation``/``config``
3. run the ordered step list: a Rule traverses the tree and applies its
   handler chain to every element matching ALL its conditions; a bare
   callable runs once with dependency injection; a sequence of Rules is
   a *grouped* step — one traversal, every element tested against each
   rule of the group in order (A4; mechanism flagged [L] in SURVEY.md,
   re-verify on reference mount)
4. ``AbortRule`` stops the current rule, ``AbortTransformation`` stops
   the step loop, ``SkipToNextElement`` cuts the handler chain for the
   current element; the result is produced in all non-error cases
5. the result is the object at config ``result_object`` (dotted path
   over symbols; default ``'tree'`` — the transformed tree; use
   ``'context.<attr>'`` for extraction-style transformations)

Handlers and conditions receive arguments BY PARAMETER NAME from the
symbol table {element, previous_result, context, config, root, tree,
transformation, nsmap, _symbols} ∪ context attributes ∪ config keys —
this name-based dependency injection is the reference's "query
language" (SURVEY.md §2.1).

Pure Python, zero Spark imports.
"""

from __future__ import annotations

import hashlib
import inspect
from types import SimpleNamespace
from typing import Callable, Optional, Sequence, Union

from . import nodes as _nodes
from .conditions import Condition, DocumentState, normalize_condition
from .errors import AbortRule, AbortTransformation, SkipToNextElement
from .nodes import Node
from .traverse import DEFAULT_TRAVERSAL, is_attached, traversal_nodes

_EMPTY = inspect.Parameter.empty


def _g_element(s: "_Execution"):
    e = s.element
    if e is None:
        raise KeyError("element")
    return e


def _g_root(s: "_Execution"):
    r = s.root
    if r is None:
        raise KeyError("root")
    return r


#: direct getters for the core DI symbols, read by _lookup and bound
#: straight into the param plans of the hot kwargs-building loop
#: (profiled; core symbols cover ~95% of handler parameters). Other
#: names are context attributes or base-context keys.
_CORE_GETTERS: dict = {
    "_symbols": lambda s: s._resolve,
    "element": _g_element,
    "previous_result": lambda s: s.previous_result,
    "context": lambda s: s.context,
    "config": lambda s: s.config,
    "root": _g_root,
    "tree": _g_root,
    "transformation": lambda s: s.transformation,
    "nsmap": lambda s: s.transformation.nsmap,
}


class Ref:
    """Late-bound symbol reference (A7): resolved against the symbol
    table at execution time."""

    __slots__ = ("name",)

    def __init__(self, name: str) -> None:
        self.name = name

    def __repr__(self) -> str:
        return f"Ref({self.name})"


def _describe_callable(fn: Callable) -> str:
    return getattr(fn, "_describe", None) or getattr(fn, "__qualname__", repr(fn))


def _as_conditions(conditions) -> list[Condition]:
    """One condition, or a sequence of them, as a normalized list."""
    if isinstance(conditions, (str, dict, Condition)) or callable(conditions):
        conditions = (conditions,)
    return [normalize_condition(c) for c in conditions]


class Rule:
    """Ordered condition list (AND-ed) + handler chain (A2)."""

    def __init__(
        self,
        conditions,
        handlers,
        name: Optional[str] = None,
        traversal_order: Optional[int] = None,
    ) -> None:
        self.conditions: list[Condition] = _as_conditions(conditions)
        if callable(handlers):
            handlers = (handlers,)
        self.handlers: tuple[Callable, ...] = tuple(handlers)
        self.name = name
        self.traversal_order = traversal_order
        self._compiled = None  # invoker chain, built on first execution

    def describe(self) -> str:
        conds = ";".join(c.describe() for c in self.conditions)
        hands = ";".join(_describe_callable(h) for h in self.handlers)
        return f"Rule(name={self.name},traversal={self.traversal_order},conds=[{conds}],handlers=[{hands}])"


Step = Union[Rule, Callable, Sequence[Rule]]


def _dispatch(rules: list) -> tuple[dict, set]:
    """(tag → [rule indices], generic indices). Rules whose FIRST
    condition is a plain tag test (MatchesTag / Any-of-tags) are
    bucketed by tag; everything else is generic (SURVEY.md §5.2)."""
    from .conditions import Any as AnyCond, MatchesTag

    tag_map: dict[str, list[int]] = {}
    generic: set[int] = set()
    for idx, rule in enumerate(rules):
        first = rule.conditions[0] if rule.conditions else None
        if isinstance(first, MatchesTag):
            tag_map.setdefault(first.tag, []).append(idx)
        elif isinstance(first, AnyCond) and first._tag_set is not None:
            for tag in first._tag_set:
                tag_map.setdefault(tag, []).append(idx)
        else:
            generic.add(idx)
    return tag_map, generic


class Transformation:
    """Ordered step list + config (A1). Instances are reusable and
    stateless across calls — all per-document state lives in a
    :class:`_Execution`, so one broadcast Transformation can serve
    every row of every Arrow batch concurrently."""

    def __init__(self, *steps: Step, **config) -> None:
        self.steps: list = []
        for step in steps:
            if isinstance(step, Rule) or callable(step):
                self.steps.append(step)
            elif isinstance(step, (list, tuple)):
                group = list(step)
                if not all(isinstance(r, Rule) for r in group):
                    raise TypeError("grouped step must contain only Rules")
                self.steps.append(group)
            else:
                raise TypeError(f"invalid step: {step!r}")
        self.name: Optional[str] = config.pop("name", None)
        self.base_context: dict = dict(config.pop("context", {}))
        self.copy: bool = config.pop("copy", True)
        self.result_object: Optional[str] = config.pop("result_object", "tree")
        common = config.pop("common_rule_conditions", None)
        self.common_rule_conditions: list[Condition] = (
            [] if common is None else _as_conditions(common)
        )
        self.traversal_order: int = config.pop("traversal_order", DEFAULT_TRAVERSAL)
        self.nsmap: Optional[dict] = config.pop("nsmap", None)
        if config:
            raise TypeError(f"unknown Transformation config: {sorted(config)}")
        # param-plan cache shared by ALL executions of this (immutable)
        # transformation: id(fn) → [(name, has_default, getter)]. Keeps
        # inspect.signature out of the per-document hot path — worth
        # ~16% of kernel time (profiled).
        self._param_plans: dict = {}
        # compiled per-callable invokers (positional fast path), id-keyed
        self._callers: dict = {}
        # per-step dispatch precomputed once: rule steps → (rules,
        # tag_map, generic, merged-plan dict persisted across documents,
        # traversal order: the first rule's own, else the default)
        self._step_plans: list = []
        for step in self.steps:
            if not isinstance(step, (Rule, list)):  # a bare callable
                self._step_plans.append(None)
                continue
            rules = [step] if isinstance(step, Rule) else step
            order = next(
                (r.traversal_order for r in rules if r.traversal_order), None
            )
            self._step_plans.append(
                (rules, *_dispatch(rules), {}, order or self.traversal_order)
            )
        self._config_kwargs: dict = dict(
            name=self.name,
            copy=self.copy,
            result_object=self.result_object,
            **self.base_context,
        )

    # -- lineage -----------------------------------------------------

    def describe(self) -> str:
        parts = [f"Transformation(name={self.name},copy={self.copy},"
                 f"result={self.result_object},traversal={self.traversal_order},"
                 f"context_keys={sorted(self.base_context)})"]
        for cond in self.common_rule_conditions:
            parts.append(f"common:{cond.describe()}")
        for step in self.steps:
            if isinstance(step, Rule):
                parts.append(step.describe())
            elif isinstance(step, list):
                parts.append("Group[" + ";".join(r.describe() for r in step) + "]")
            else:
                parts.append(f"Once({_describe_callable(step)})")
        return "\n".join(parts)

    def fingerprint(self) -> str:
        """sha256 of the canonical description — the lineage
        ``rule_set_hash`` (BASELINE.json:6)."""
        return hashlib.sha256(self.describe().encode("utf-8")).hexdigest()

    # -- execution ---------------------------------------------------

    def __call__(self, root: Optional[Node], **context_kwargs):
        execution = _Execution(self, root, context_kwargs)
        return execution.run()


class _Execution:
    """One document's traversal state + symbol table."""

    def __init__(self, transformation: Transformation, root: Optional[Node], kwargs: dict):
        if root is not None and transformation.copy:
            root = root.deepcopy()
        self.transformation = transformation
        self.root = root
        ctx = dict(transformation.base_context)
        ctx.update(kwargs)
        self.context = SimpleNamespace(**ctx)
        self.config = SimpleNamespace(**transformation._config_kwargs)
        self.element: Optional[Node] = None
        self.previous_result = None
        self._param_plans = transformation._param_plans
        self.state = DocumentState(root, self._resolve, transformation.nsmap)

    # -- symbol table --------------------------------------------------

    def _lookup(self, name: str):
        getter = _CORE_GETTERS.get(name)
        if getter is not None:
            return getter(self)
        if hasattr(self.context, name):
            return getattr(self.context, name)
        if name in self.transformation.base_context:
            return self.transformation.base_context[name]
        raise KeyError(name)

    def _resolve(self, target):
        """Resolver handed to handlers as ``_symbols``: Ref → value;
        callable → kwargs dict for dependency injection."""
        if isinstance(target, Ref):
            return self._lookup(target.name)
        if isinstance(target, str):
            return self._lookup(target)
        kwargs = {}
        for pname, has_default, getter in self._param_plan(target):
            try:
                kwargs[pname] = (
                    getter(self) if getter is not None else self._lookup(pname)
                )
            except KeyError:
                if not has_default:
                    raise KeyError(
                        f"cannot resolve symbol {pname!r} for "
                        f"{_describe_callable(target)}"
                    ) from None
        return kwargs

    def _param_plan(self, fn: Callable) -> list:
        """[(name, has_default, core getter or None)] per parameter of
        ``fn``, built once per callable and shared by every execution
        of the transformation."""
        plan = self._param_plans.get(id(fn))
        if plan is None:
            plan = [
                (pname, param.default is not _EMPTY, _CORE_GETTERS.get(pname))
                for pname, param in inspect.signature(fn).parameters.items()
                if param.kind not in (
                    inspect.Parameter.VAR_POSITIONAL,
                    inspect.Parameter.VAR_KEYWORD,
                )
            ]
            self._param_plans[id(fn)] = plan
        return plan

    # -- run -----------------------------------------------------------

    def run(self):
        try:
            for step, splan in zip(
                self.transformation.steps, self.transformation._step_plans
            ):
                if splan is not None:
                    self._apply_rules(splan)
                else:
                    self.previous_result = self._call(step)
        except AbortTransformation:
            pass
        return self._result()

    # -- compiled invokers ---------------------------------------------

    def _caller_for(self, fn: Callable):
        """Compiled, cached invoker for ``fn``: callables whose
        parameters all lack defaults get a positional fast path (no
        kwargs dict); anything else falls back to the kwargs build of
        :meth:`_resolve`."""
        caller = self.transformation._callers.get(id(fn))
        if caller is None:
            plan = self._param_plan(fn)
            if any(has_default for _, has_default, _ in plan):
                def caller(ex, _fn=fn):
                    return _fn(**ex._resolve(_fn))
            else:
                getters = tuple(
                    getter
                    if getter is not None
                    else (lambda ex, _n=pname: ex._lookup(_n))
                    for pname, _, getter in plan
                )
                def caller(ex, _fn=fn, _gs=getters):
                    return _fn(*[g(ex) for g in _gs])
            self.transformation._callers[id(fn)] = caller
        return caller

    def _call(self, fn: Callable):
        return self._caller_for(fn)(self)

    def _apply_rules(self, splan: tuple) -> None:
        if self.root is None:
            return
        rules, tag_map, generic, merged, order = splan
        nodes = traversal_nodes(self.root, order)
        # tag-bucket dispatch (SURVEY.md §5.2): only rules whose leading
        # condition can match this tag are evaluated; rule order is
        # restored by the index sort. For bucketed rules the leading tag
        # condition is ALREADY satisfied by the bucket hit, so the plan
        # stores only the remaining conditions. Plans persist across
        # documents on the (immutable) transformation.
        active = set(range(len(rules)))
        common = self.transformation.common_rule_conditions

        def plan_for(tag: str, local: str) -> list:
            cand: dict[int, tuple] = {
                ridx: tuple(rules[ridx].conditions) for ridx in generic
            }
            for ridx in tag_map.get(tag, ()):
                cand[ridx] = tuple(rules[ridx].conditions[1:])
            if local != tag:
                for ridx in tag_map.get(local, ()):
                    cand[ridx] = tuple(rules[ridx].conditions[1:])
            got = sorted(cand.items())
            merged[tag] = got
            return got

        # reachability: while no detach happened since walk start
        # (STRUCTURE_VERSION unchanged) every materialized node is still
        # attached — skip the ancestor walk entirely (the common case).
        start_ver = _nodes.STRUCTURE_VERSION
        dirty = False
        state = self.state
        root = self.root
        try:
            for node in nodes:
                if dirty or _nodes.STRUCTURE_VERSION != start_ver:
                    dirty = True
                    if not is_attached(node, root):
                        continue  # dropped by an earlier handler this walk
                self.element = node  # visible to DI conditions too
                if common:
                    ok = True
                    for c in common:
                        if not c(node, state):
                            ok = False
                            break
                    if not ok:
                        continue
                tag = node.tag
                plan = merged.get(tag)
                if plan is None:
                    plan = plan_for(tag, node.localname)
                for ridx, conds in plan:
                    if ridx not in active:
                        continue
                    try:
                        matched = True
                        for c in conds:
                            if not c(node, state):
                                matched = False
                                break
                        if not matched:
                            continue
                        self._run_chain(rules[ridx], node)
                    except SkipToNextElement:
                        continue
                    except AbortRule:
                        active.discard(ridx)
                        if not active:
                            return
                    if _nodes.STRUCTURE_VERSION != start_ver:
                        dirty = True
                        if not is_attached(node, root):
                            break  # this rule dropped the node; later group
                            # members cannot match a detached element
        finally:
            self.element = None

    def _run_chain(self, rule: Rule, node: Node) -> None:
        self.element = node
        self.previous_result = None
        compiled = rule._compiled
        if compiled is None:
            compiled = rule._compiled = tuple(
                self._caller_for(h) for h in rule.handlers
            )
        for caller in compiled:
            self.previous_result = caller(self)

    def _result(self):
        path = self.transformation.result_object
        if path is None:
            return None
        first, _, rest = path.partition(".")
        try:
            value = self._lookup(first)
        except KeyError:
            raise AttributeError(f"result_object {path!r}: unknown symbol {first!r}")
        while rest:
            attr, _, rest = rest.partition(".")
            value = getattr(value, attr)
        return value
