"""Compile a jio-semantics rule tree into Spark ``Column`` expressions.

The reference interprets one document at a time: each schema node runs an
ordered closure list over a ``Context`` carrying ``(Value, Err, skip)``
(``/root/reference/context.go:18-26``), aborting a field on its first error
(``context.go:53-56``) and aborting the whole object walk on any child error
(``object.go:160-162``).

Here the same state machine is *vectorized*: for every field we thread
Column expressions through the rule list at **compile time**, emitting

* one tri-state verdict per rule (NULL = not evaluated because an earlier
  rule skipped/aborted — preserving jio's first-error-only reporting),
* a violation struct per rule ``(rule_path, rule_name, expected, actual,
  message)`` matching the reference's error text shape,
* a normalized ("mutated") value expression per field, reproducing the
  write-back at ``object.go:163-165``.

Everything is built from ``pyspark.sql.functions`` — zero UDFs — so the whole
rule set runs inside Catalyst whole-stage codegen in a single pass over the
table, at any scale.

Two deliberate scale properties of the compilation:

1. **Single-reference recurrences.** The threaded state is ``ev`` ("chain
   still active": the vectorized ``!ctx.skip``) and ``err``; each step
   references its predecessor exactly once (``ev_i = ev_{i-1} AND pass_i``,
   ``err_i = err_{i-1} OR (ev_{i-1} AND fail_i)``). Catalyst freely inlines
   aliases (CollapseProject, PushDownPredicates); a recurrence that
   referenced its predecessor twice (e.g. ``skip OR (NOT skip AND x)``)
   inlines to an exponentially sized tree and OOMs the optimizer on
   realistic rule sets — observed, not theoretical.
2. **SSA state columns.** Each rule's updated state is materialized as a
   named internal column (one ``withColumns`` batch per rule), so the
   analyzed plan stays linear even before optimization.

Dynamic-typing corners of JSON (a value that *becomes* a number via
``ParseString``, number.go:190-201, or a bool via ``Truthy``,
bool.go:94-102) are modeled with a ``(typed, is_typed, untyped)`` triple per
field instead of Go's ``interface{}``; value evolution is skip-independent
in the reference (rules run unconditionally once reached), so values
compile straight-line and verdict masking is applied only at reporting.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dsl import (AnySchema, ArraySchema, BaseSchema, BoolSchema, K,
                  NumberSchema, ObjectSchema, RuleSpec, StringSchema)
from .gofmt import fmt_col, go_repr, go_repr_list

# ---------------------------------------------------------------------------
# type tags

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def type_tag(dt: Optional[T.DataType]) -> str:
    """Logical tag of a Spark type, in jio's 6-type world (SURVEY.md §1.1)."""
    if dt is None:
        return "any"
    if isinstance(dt, _NUMERIC):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return f"other:{dt.simpleString()}"


_TYPE_NOUN = {"double": "number", "string": "string", "boolean": "boolean",
              "array": "array", "struct": "object", "map": "object"}


def _lit_tag(v: Any) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "double"
    if isinstance(v, str):
        return "string"
    if v is None:
        return "null"
    if isinstance(v, (list, tuple)):
        return "array"
    return "other"


# ---------------------------------------------------------------------------
# compile-time state


@dataclass
class VerdictEntry:
    """One rule's compiled outcome — the vectorized analog of a single
    ``ctx.Abort`` site in the reference."""

    rule_id: str
    path: str
    rule_name: str
    expected: str
    evaluated: Column   # boolean: did this rule run for the row
    passed: Column      # boolean: meaningful where evaluated
    actual: Column      # string: value rendering at rule time (Go %v style)
    message: Column     # string: jio-shaped error text


@dataclass
class ColState:
    """Vectorized ``Context`` for one field (context.go:18-26).

    ``ev`` is the live-chain flag (``NOT ctx.skip``); ``err`` is "this
    field aborted". Value state: ``typed`` holds the value as the schema's
    native type when ``is_typed``; ``untyped`` holds the original column
    expression when the column's type differs from the schema type.
    """

    typed: Column
    is_typed: Column
    untyped: Optional[Column]
    utype: str               # tag of untyped
    vtype: str               # schema's expected tag ('any' → column's own)
    ev: Column               # chain still active
    err: Column              # aborted with error
    spark_type: Optional[T.DataType] = None
    #: the COLUMN's declared type, never mutated (spark_type tracks the
    #: dynamic value and changes under Convert/Set) — the write-back
    #: target type for retagged Any chains
    orig_spark_type: Optional[T.DataType] = None

    def cur_null(self) -> Column:
        """Is the current dynamic value nil (any.go:48 / 60 / 70)."""
        if self.untyped is None:
            return self.typed.isNull()
        return F.when(self.is_typed, self.typed.isNull()) \
                .otherwise(self.untyped.isNull())

    def display(self) -> Column:
        """Go-%v rendering of the current dynamic value, for messages."""
        t = fmt_col(self.typed, self.vtype, self.spark_type)
        if self.untyped is None:
            return t
        u = fmt_col(self.untyped, self.utype, self.orig_spark_type)
        return F.when(self.is_typed, t).otherwise(u)


# thread-safe: the runner compiles validate() inside ThreadPoolExecutor
# workers (group_concurrency > 1); a bare `+= 1` on a module int could
# hand two compilations the same SSA prefix
_CTX_SEQ = itertools.count(1)


class CompileCtx:
    """Per-compilation registry: verdict entries (in jio walk order), the
    normalized value of every completed field (for `When` ref visibility —
    jio mutates the root document as the walk progresses, object.go:163-165),
    the SSA stages, and the root schema for raw ref lookups."""

    def __init__(self, root_schema: T.StructType, collect: bool = True,
                 pure: bool = False):
        self.root_schema = root_schema
        self.collect = collect
        #: pure mode: no column materialization — required inside
        #: higher-order-function lambdas (Items elements) and condition
        #: predicates. Only safe for short chains.
        self.pure = pure
        self.entries: List[VerdictEntry] = []
        # path -> (normalized expr, tag): visible to later `when` refs
        self.completed: Dict[str, Tuple[Column, str]] = {}
        # path -> normalized leaf expr for the output projection
        self.normalized: Dict[str, Column] = {}
        #: SSA state columns: each stage is one withColumns batch whose
        #: expressions reference only earlier stages
        self.stages: List[Dict[str, Column]] = []
        self.internal_cols: List[str] = []
        self._n = 0
        self._ecnt = 0
        # unique per-compilation prefix: a second validate() CHAINED over
        # a prior result's prepared frame must not collide with (and
        # silently replace, via withColumns) the first compile's SSA
        # columns
        self._prefix = f"_js{next(_CTX_SEQ)}"

    def add(self, path: str, name: str, expected: str, evaluated: Column,
            passed: Column, actual: Column, message: Column) -> None:
        if not self.collect:
            return
        rid = f"{path}#{self._n:03d}:{name}" if path else f"#{self._n:03d}:{name}"
        self._n += 1
        self.entries.append(VerdictEntry(
            rule_id=rid, path=path, rule_name=name, expected=expected,
            evaluated=evaluated, passed=passed, actual=actual,
            message=message))

    def emit(self, kind: str, col: Column) -> Column:
        """Materialize an intermediate as a named column; later references
        become attribute refs instead of copied subtrees."""
        if self.pure:
            return col
        name = f"{self._prefix}_{kind}_{self._ecnt}"
        self._ecnt += 1
        self.stages.append({name: col})
        self.internal_cols.append(name)
        return F.col(name)

    def emit_batch(self, batch: Dict[str, Column]) -> None:
        self.stages.append(batch)
        self.internal_cols.extend(batch.keys())

    def ref(self, ref_path: str) -> Tuple[Column, str, Column, T.DataType]:
        """Resolve a `When` refPath (dotted, from the document root —
        context.go:30-45). Fields already walked resolve to their
        *normalized* expression (mutation visibility under SetPriority,
        string_test.go:92-111).

        Returns ``(col, tag, ok, dtype)``: ``ok`` is the vectorized ``ok`` of
        ``ctx.Ref`` — false (⇒ the When is a per-row no-op,
        schema.go:23-25) when an intermediate value on the path is nil
        (not an object, context.go:36-38) or a map key is absent
        (context.go:40-42). A struct field that exists in the schema is
        always "present" (a JSON key with a null value still returns
        ok=true from a Go map lookup); only NULL *intermediates* and
        absent MAP keys make the ref unresolvable. ``dtype`` is the
        ref's Spark type — post-coercion when a completed ref changed
        tag, its declared schema type otherwise."""
        parts = ref_path.split(".")
        dt: T.DataType = self.root_schema
        col = None
        ok = F.lit(True)
        for p in parts:
            if isinstance(dt, T.MapType):
                # jio's ctx.Ref walks map documents too (context.go:
                # 29-44); try_element_at: NULL for absent keys, but the
                # `ok` distinction between absent and present-nil is real
                # key presence
                ok = ok & F.coalesce(F.map_contains_key(col, F.lit(p)),
                                     F.lit(False))
                col = F.try_element_at(col, F.lit(p))
                dt = dt.valueType
                continue
            if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
                raise KeyError(
                    f"when(): refPath {ref_path!r} not found in schema")
            if col is not None:
                # stepping INTO a struct value: the reference requires the
                # intermediate to be a non-nil object (context.go:36-38)
                ok = ok & col.isNotNull()
            dt = dt[p].dataType
            col = F.col(parts[0]) if col is None else col.getField(p)
        if ref_path in self.completed:
            ccol, ctag = self.completed[ref_path]
            # a coerced completed ref (e.g. parse_string'd) carries its
            # POST-coercion tag; its declared DataType only still applies
            # when the tag didn't change (non-scalar refs in particular)
            return ccol, ctag, ok, _tag_to_type(ctag) or dt
        return col, type_tag(dt), ok, dt


# ---------------------------------------------------------------------------
# message builders (error shapes from the reference, SURVEY.md §2 footer)


def _msg(path: str, *parts: Column) -> Column:
    return F.concat(F.lit(f"field `{path}` "), *parts)


def _msg_value(path: str, st: ColState, suffix: str) -> Column:
    return _msg(path, F.lit("value "), st.display(), F.lit(" " + suffix))


def _type_fail_msg(path: str, st: ColState) -> Column:
    noun = _TYPE_NOUN.get(st.vtype, st.vtype)
    return _msg_value(path, st, f"is not {noun}")


# ---------------------------------------------------------------------------
# state-step primitives (the vectorized Abort/Skip of context.go:53-61)


def _abort_step(cc: CompileCtx, st: ColState, fail_cond: Column) -> None:
    """ctx.Abort where fail_cond holds: error + stop. Single-reference
    recurrence (see module docstring)."""
    st.err = st.err | (st.ev & fail_cond)
    st.ev = st.ev & ~fail_cond


def _skip_step(cc: CompileCtx, st: ColState, skip_cond: Column) -> None:
    """ctx.Skip where skip_cond holds: stop without error."""
    st.ev = st.ev & ~skip_cond


# ---------------------------------------------------------------------------
# the chain compiler


def compile_chain(schema: BaseSchema, col: Optional[Column],
                  dtype: Optional[T.DataType], path: str, cc: CompileCtx,
                  init_ev: Column,
                  seed: Optional[ColState] = None) -> ColState:
    """Compile one field's rule list — the analog of ``Validate``
    (any.go:122-132): run rules in order with skip/abort threading, then the
    final type assertion. ``init_ev`` gates the whole chain (rows where the
    walk already stopped never evaluate it). ``seed`` continues from an
    existing dynamic-value state instead of re-initializing from the raw
    column — used by `When` sub-chains, which in the reference operate on
    the CURRENT ctx.Value including earlier coercions (schema.go:34-36)."""
    if seed is not None:
        st = ColState(typed=seed.typed, is_typed=seed.is_typed,
                      untyped=seed.untyped, utype=seed.utype,
                      vtype=seed.vtype, ev=F.lit(False), err=F.lit(False),
                      spark_type=seed.spark_type,
                      orig_spark_type=seed.orig_spark_type)
    else:
        st = _init_state(schema, col, dtype)
    st.ev = init_ev
    st.err = F.lit(False)

    for spec in schema._ordered_rules():
        handler = _HANDLERS.get(spec.name)
        if handler is None:
            raise NotImplementedError(f"rule {spec.name!r}")
        prev = (st.typed, st.is_typed, st.untyped, st.ev, st.err)
        handler(cc, st, path, spec, schema)
        _materialize_state(cc, st, prev)

    # final type assertion (e.g. number.go:217-221); AnySchema has none
    if schema.TYPE != "any":
        passed = st.is_typed
        cc.add(path, f"type:{schema.TYPE}",
               _TYPE_NOUN.get(schema.TYPE, schema.TYPE), st.ev, passed,
               st.display(), _type_fail_msg(path, st))
        prev = (st.typed, st.is_typed, st.untyped, st.ev, st.err)
        _abort_step(cc, st, ~passed)
        _materialize_state(cc, st, prev)
    return st


_STATE_ATTRS = ("typed", "is_typed", "untyped", "ev", "err")


def _materialize_state(cc: CompileCtx, st: ColState, prev: tuple) -> None:
    """Emit every state expr a rule changed as named columns (one
    withColumns batch per rule — all exprs reference only pre-rule state)."""
    if cc.pure:
        return
    batch: Dict[str, Column] = {}
    for attr, old in zip(_STATE_ATTRS, prev):
        new = getattr(st, attr)
        if new is not old and new is not None:
            name = f"{cc._prefix}_{attr}_{cc._ecnt}"
            cc._ecnt += 1
            batch[name] = new
            setattr(st, attr, F.col(name))
    if batch:
        cc.emit_batch(batch)


def _init_state(schema: BaseSchema, col: Optional[Column],
                dtype: Optional[T.DataType]) -> ColState:
    tag = type_tag(dtype)
    f = F.lit(False)
    if schema.TYPE == "any":
        return ColState(typed=col, is_typed=F.lit(True), untyped=None,
                        utype=tag, vtype=tag, ev=f, err=f, spark_type=dtype,
                        orig_spark_type=dtype)
    want = schema.TYPE
    matches = (tag == want) or (want == "struct" and tag == "map")
    if matches:
        return ColState(typed=col, is_typed=F.lit(True), untyped=None,
                        utype=tag, vtype=want, ev=f, err=f, spark_type=dtype,
                        orig_spark_type=dtype)
    null_typed = F.lit(None).cast(_null_type(want))
    return ColState(typed=null_typed, is_typed=F.lit(False), untyped=col,
                    utype=tag, vtype=want, ev=f, err=f, spark_type=dtype,
                    orig_spark_type=dtype)


def _null_type(want: str) -> T.DataType:
    # struct maps to an EMPTY struct so fmt_col's to_json rendering of the
    # (always-NULL) typed placeholder still analyzes
    return {"double": T.DoubleType(), "string": T.StringType(),
            "boolean": T.BooleanType(),
            "array": T.ArrayType(T.StringType()),
            "struct": T.StructType([])}.get(want, T.StringType())


# -- rule handlers -----------------------------------------------------------


def _h_optional(cc, st, path, spec, schema):
    # any.go:57-64 → Skip() on nil: no error, later rules don't run
    _skip_step(cc, st, st.cur_null())


def _h_required(cc, st, path, spec, schema):
    # any.go:45-52
    is_null = st.cur_null()
    cc.add(path, "required", "required", st.ev, ~is_null, st.display(),
           F.lit(f"field `{path}` is required"))
    _abort_step(cc, st, is_null)


def _h_default(cc, st, path, spec, schema):
    # any.go:67-74: substitute when nil
    v = spec.params["value"]
    was_null = st.cur_null()
    vt = _lit_tag(v)
    if isinstance(v, dict):
        # Object()/Any().Default({...}) (object_test.go:86-94): F.lit
        # has no dict support — build the literal to match the column's
        # own map/struct type. vt takes the FIELD's tag (an Any schema
        # over a map column has vtype 'map', not 'struct') so the match
        # check below accepts the literal we just shaped for it.
        vt = st.vtype
        if isinstance(st.spark_type, T.MapType):
            pairs = [x for k, val in v.items()
                     for x in (F.lit(k), F.lit(val))]
            lit = F.create_map(*pairs).cast(st.spark_type)
        elif isinstance(st.spark_type, T.StructType):
            names = st.spark_type.fieldNames()
            lit = F.struct(*[
                (F.lit(v[n]) if n in v
                 else F.lit(None).cast(st.spark_type[n].dataType))
                .alias(n) for n in names]).cast(st.spark_type)
        else:
            # DOCUMENTED DEVIATION (pinned in test_map_custom.py): a dict
            # default over a column that is physically neither map nor
            # struct (e.g. K.any over a string column) fails at COMPILE
            # time. The reference (any.go:67-74) would substitute the
            # value and let the final type assertion fail per-row, but a
            # Spark column cannot hold a value outside its own type — the
            # schema-on-write mismatch is unrepresentable, so surfacing
            # it before launching a job is strictly more useful than a
            # guaranteed 100%-row failure.
            raise TypeError(
                f"default({v!r}) incompatible with {st.vtype} "
                f"field {path}")
    else:
        lit = F.lit(v)
    if st.vtype == "any" or vt == st.vtype:
        st.typed = F.when(was_null, lit).otherwise(st.typed)
        st.is_typed = st.is_typed | was_null
        if isinstance(v, float) and not isinstance(v, bool) \
                and isinstance(st.spark_type,
                               (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType)):
            # the when() coerces the carrier to double — a stale
            # integral spark_type would let _h_integer's shortcut pass
            # Default(5.5).integer() on null rows (reference aborts)
            st.spark_type = T.DoubleType()
    else:
        if st.untyped is not None and vt == st.utype:
            st.untyped = F.when(was_null, lit).otherwise(st.untyped)
        else:
            raise TypeError(
                f"default({v!r}) incompatible with {st.vtype} field {path}")


def _h_set(cc, st, path, spec, schema):
    # any.go:77-81: unconditional replace. The substituted value is
    # judged by the REST of the chain — including the final type
    # assertion — so a cross-type Set fails per-row at the type gate
    # (reference semantics), instead of silently mis-typing the carrier
    # or crashing at schema-build time. Because the replace is
    # unconditional, rebuilding the carriers/tags is sound; inside a
    # When `then` sub-chain a retagged carrier simply doesn't write
    # back (_merge_when_value's documented type-changing deviation).
    v = spec.params["value"]
    vt = _lit_tag(v)
    if v is None:
        # Set(nil): Required sees nil, typed chains fail their type
        # gate per-row (Go type switch on nil), Any chains carry nil
        if schema.TYPE == "any" and st.spark_type is not None:
            st.typed = F.lit(None).cast(st.spark_type)
        else:
            st.typed = F.lit(None).cast(_null_type(st.vtype))
        st.is_typed = F.lit(schema.TYPE == "any")
        st.untyped = None
        return
    if vt == st.vtype:
        st.typed = F.lit(float(v)) if st.vtype == "double" else F.lit(v)
        st.is_typed = F.lit(True)
        st.untyped = None
        if st.vtype == "double" and isinstance(
                st.spark_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType)):
            # the carrier now holds a double literal: leaving the stale
            # integral spark_type would let _h_integer's integral-column
            # shortcut trivially PASS Set(5.5).integer() (reference
            # aborts: 5.5 != trunc(5.5))
            st.spark_type = T.DoubleType()
    elif schema.TYPE == "any":
        # Any chain: the unconditional replace retags the dynamic
        # value for every row — rebuild the state around the literal
        st.typed = F.lit(v)
        st.is_typed = F.lit(True)
        st.untyped = None
        st.utype = vt
        st.vtype = vt
        st.spark_type = None
    else:
        # cross-type Set on a typed chain: the value rides the untyped
        # carrier and every later type gate fails per-row, exactly like
        # the reference substituting a mis-typed value
        st.untyped = F.lit(v)
        st.utype = vt
        st.is_typed = F.lit(False)


def _is_nan_lit(v: Any) -> bool:
    """Literal-NaN guard: Go's == (and reflect.DeepEqual on float64)
    never matches NaN, while Spark's = / eqNullSafe treat NaN as equal
    to NaN — a NaN literal must therefore match NOTHING."""
    return isinstance(v, float) and math.isnan(v)


def _h_equal(cc, st, path, spec, schema):
    v = spec.params["value"]
    expected = go_repr(v)
    if isinstance(schema, (NumberSchema, StringSchema)):
        # routes through Check → type gate first (number.go:83-90).
        # A cross-typed literal (Number().Equal("5")) can NEVER match:
        # Go interface equality of float64(5) vs string "5" is false,
        # while Spark's eqNullSafe would implicitly cast '5' → 5.0 and
        # match — the exact "'5' == 5 must NOT match" invariant the
        # when-condition path already guards with _lit_tag
        want = "double" if isinstance(schema, NumberSchema) else "string"
        cross = _lit_tag(v) != want
        _gated_check(cc, st, path, "equal", expected,
                     (lambda c: F.lit(False))
                     if (_is_nan_lit(v) or cross)
                     else (lambda c: c.eqNullSafe(_typed_lit(st, v))),
                     f"is not {expected}")
        return
    # Any/Bool: direct interface comparison (any.go:84-91, bool.go:80-86)
    pass_pred = _dyn_eq(st, v)
    cc.add(path, "equal", expected, st.ev, pass_pred, st.display(),
           _msg_value(path, st, f"is not {expected}"))
    _abort_step(cc, st, ~pass_pred)


def _h_valid(cc, st, path, spec, schema):
    values = spec.params["values"]
    expected = go_repr_list(values)
    if isinstance(schema, (NumberSchema, StringSchema)):
        # NaN members can never match (Go ==; see _is_nan_lit), and
        # neither can cross-typed members: isin's implicit string↔double
        # cast would make Number().Valid("5") match 5.0 where Go
        # interface equality is false (same guard as _h_equal)
        want = "double" if isinstance(schema, NumberSchema) else "string"
        lits = [_typed_lit(st, v) for v in values
                if not _is_nan_lit(v) and _lit_tag(v) == want]
        _gated_check(cc, st, path, "valid", expected,
                     lambda c: c.isin(*lits) if lits else F.lit(False),
                     f"not in {expected}")
        return
    # AnySchema.Valid (any.go:105-119): untyped membership
    preds = [_dyn_eq(st, v) for v in values]
    pass_pred = preds[0] if preds else F.lit(False)
    for p in preds[1:]:
        pass_pred = pass_pred | p
    cc.add(path, "valid", expected, st.ev, pass_pred, st.display(),
           _msg_value(path, st, f"is not in {expected}"))
    _abort_step(cc, st, ~pass_pred)


def _dyn_eq(st: ColState, v: Any) -> Column:
    """Go interface equality of the current dynamic value vs literal v."""
    vt = _lit_tag(v)
    if v is None:
        return st.cur_null()
    if _is_nan_lit(v):
        return F.lit(False)
    preds = []
    if vt == st.vtype or st.vtype == "any":
        preds.append(st.is_typed & st.typed.eqNullSafe(_typed_lit(st, v)))
    if st.untyped is not None and vt == st.utype:
        preds.append(~st.is_typed & st.untyped.eqNullSafe(F.lit(v)))
    if not preds:
        return F.lit(False)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def _typed_lit(st: ColState, v: Any) -> Column:
    if st.vtype == "double" and isinstance(v, (int, float)) \
            and not isinstance(v, bool):
        if st.spark_type is not None and type_tag(st.spark_type) == "double" \
                and not isinstance(st.spark_type, (T.FloatType, T.DoubleType)):
            # integral columns compare against integral literals so the
            # predicate stays pushdown-friendly (no cast on the column side)
            if float(v) == int(v):
                return F.lit(int(v))
        return F.lit(float(v))
    return F.lit(v)


def _gated_check(cc, st: ColState, path: str, name: str, expected: str,
                 pred_fn: Callable[[Column], Column], fail_suffix: str):
    """The ``Check`` pattern (number.go:99-110, string.go:98-109,
    array.go:81-91): abort "is not <type>" when the dynamic value is not of
    the schema type, else run the predicate."""
    type_ok = st.is_typed
    pred = F.coalesce(pred_fn(st.typed), F.lit(False))
    passed = type_ok & pred
    message = F.when(~type_ok, _type_fail_msg(path, st)) \
               .otherwise(_msg_value(path, st, fail_suffix))
    cc.add(path, name, expected, st.ev, passed, st.display(), message)
    _abort_step(cc, st, ~passed)


def _gated_transform(cc, st: ColState, path: str, name: str,
                     fn: Callable[[Column], Column],
                     result_cast: Optional[str] = None):
    """``Convert`` pattern (number.go:161-170, string.go:181-190): abort
    "is not <type>" on type mismatch, else replace the value."""
    type_ok = st.is_typed
    cc.add(path, name, "", st.ev, type_ok, st.display(),
           _type_fail_msg(path, st))
    _abort_step(cc, st, ~type_ok)
    nv = fn(st.typed)
    if result_cast:
        nv = nv.cast(result_cast)
    st.typed = nv
    if result_cast == "double":
        st.spark_type = T.DoubleType()


# numbers ---------------------------------------------------------------


def _h_nmin(cc, st, path, spec, schema):
    v = spec.params["value"]
    _gated_check(cc, st, path, "min", f">= {go_repr(v)}",
                 lambda c: c >= _typed_lit(st, v), f"less than {go_repr(v)}")


def _h_nmax(cc, st, path, spec, schema):
    v = spec.params["value"]
    # Go aborts on `value > max` (number.go:128-134): NaN > max is FALSE
    # in Go, so NaN PASSES Max — Spark orders NaN largest (NaN > max is
    # true), so NaN must be exempted explicitly. Min needs no exemption:
    # Go's !(NaN < min) and Spark's NaN >= min are both true.
    _gated_check(cc, st, path, "max", f"<= {go_repr(v)}",
                 lambda c: F.isnan(c.cast("double"))
                 | (c <= _typed_lit(st, v)),
                 f"exceeded {go_repr(v)}")


def _h_integer(cc, st, path, spec, schema):
    # number.go:150-157: value == math.Trunc(value)
    if st.spark_type is not None and isinstance(
            st.spark_type, (T.ByteType, T.ShortType, T.IntegerType,
                            T.LongType)):
        pred_fn = lambda c: F.lit(True)  # integral columns trivially pass
    else:
        # Go: NaN != math.Trunc(NaN) fails Integer; Spark's NaN == NaN
        # is true, so NaN must be rejected explicitly
        pred_fn = lambda c: ~F.isnan(c.cast("double")) & (c == _trunc(c))
    _gated_check(cc, st, path, "integer", "integer", pred_fn, "not integer")


# any double with |v| >= 2^53 is already integral, so trunc/ceil/floor/
# round are the identity there — and Spark's F.floor/F.ceil return
# LongType, which would clamp (or, under ANSI, throw) past 2^63 where
# Go's float-domain math.* functions are exact. Guarding at 2^53 keeps
# the long-based path safely inside range AND reproduces Go.
_INTEGRAL_ABOVE = 2.0 ** 53


def _big_identity(fn, threshold: float = _INTEGRAL_ABOVE):
    return lambda c: F.when(F.abs(c) >= F.lit(threshold), c) \
                      .otherwise(fn(c).cast("double"))


def _trunc(c: Column) -> Column:
    # Go math.Trunc: toward zero
    return _big_identity(
        lambda x: F.when(x >= 0, F.floor(x)).otherwise(F.ceil(x)))(c)


def _h_ceil(cc, st, path, spec, schema):
    _gated_transform(cc, st, path, "ceil", _big_identity(F.ceil),
                     result_cast="double")


def _h_floor(cc, st, path, spec, schema):
    _gated_transform(cc, st, path, "floor", _big_identity(F.floor),
                     result_cast="double")


def _h_round(cc, st, path, spec, schema):
    # Go math.Round = half away from zero (number.go:183-185). The naive
    # floor(abs + 0.5) translation is WRONG whenever abs+0.5 is not
    # representable and rounds up across an integer boundary — both for
    # odd integral v in [2^52, 2^53) (v+0.5 → v+1) and for fractions one
    # ulp below .5 (0.49999999999999994 + 0.5 → 1.0, Go returns 0).
    # Comparing the exact fractional part avoids the addition entirely:
    # round(|v|) = floor(|v|) + (|v| - floor(|v|) >= 0.5 ? 1 : 0).
    def go_round(c: Column) -> Column:
        a = F.abs(c)
        fl = F.floor(a)
        return F.signum(c) * (fl + F.when(a - fl >= 0.5, F.lit(1))
                                    .otherwise(F.lit(0)))
    _gated_transform(cc, st, path, "round", _big_identity(go_round),
                     result_cast="double")


def _h_convert(cc, st, path, spec, schema):
    fn = spec.params["fn"]
    cast = "double" if isinstance(schema, NumberSchema) else None
    _gated_transform(cc, st, path, "convert", fn, result_cast=cast)


# Go strconv.ParseFloat syntax (decimal + inf/infinity/nan forms, NO
# surrounding whitespace — Spark's bare string→double cast would trim).
# Go 1.13+ underscore separators are accepted per the float-literal
# grammar (single '_' strictly between digits: 1_000.5, 1e1_0; never
# adjacent to the dot, sign, or ends), and stripped before the cast.
# Out-of-range magnitudes (1e309) are a parse FAILURE: Go returns
# ErrRange (number.go:193-197 aborts on any err), detected here as the
# cast overflowing to ±Inf while the literal isn't an inf form.
# Documented exactness corners: Go's hex-float literals (0x1p-3) are not
# accepted here; extreme underflow (≈<1e-323, ErrRange in Go with f=0)
# passes here as 0.0. A parsed NaN follows Go semantics downstream:
# Max exempts it, Integer rejects it, Equal/Valid never match it
# (explicit NaN handling in those handlers — Spark's native NaN
# ordering/equality differs from Go's on all three).
_D = r"\d+(?:_\d+)*"
_GO_FLOAT_NUM = rf"^[+-]?({_D}(\.(?:{_D})?)?|\.{_D})([eE][+-]?{_D})?$"
_GO_FLOAT_INF = r"^[+-]?[iI][nN][fF]([iI][nN][iI][tT][yY])?$"


def _h_parse_string(cc, st, path, spec, schema):
    # number.go:190-201: strings parse to float64 (abort on failure),
    # non-strings pass through untouched.
    if st.untyped is None or st.utype != "string":
        return  # nothing string-typed can flow here
    u = st.untyped
    num = F.replace(u, F.lit("_"), F.lit("")).try_cast("double")
    finite = (num > F.lit(float("-inf"))) & (num < F.lit(float("inf")))
    parsed = F.when(u.rlike(_GO_FLOAT_NUM),
                    F.when(finite, num)) \
              .when(u.rlike(_GO_FLOAT_INF),
                    F.when(u.startswith("-"),
                           F.lit(float("-inf")))
                     .otherwise(F.lit(float("inf")))) \
              .when(F.lower(u) == "nan", F.lit(float("nan")))
    attempt = ~st.is_typed & u.isNotNull()
    ok = attempt & parsed.isNotNull()
    fail = attempt & parsed.isNull()
    cc.add(path, "parse_string", "parseable number", st.ev & attempt,
           ~parsed.isNull(), st.display(),
           # jio's message, typo and all (number.go:195)
           _msg_value(path, st, "corvert to float64 failed"))
    st.typed = F.when(ok, parsed).otherwise(st.typed)
    st.is_typed = st.is_typed | ok
    _abort_step(cc, st, fail)


# strings ---------------------------------------------------------------


def _h_smin(cc, st, path, spec, schema):
    n = spec.params["value"]
    _gated_check(cc, st, path, "min", f"len >= {n}",
                 lambda c: F.octet_length(c) >= n, f"length less than {n}")


def _h_smax(cc, st, path, spec, schema):
    n = spec.params["value"]
    _gated_check(cc, st, path, "max", f"len <= {n}",
                 lambda c: F.octet_length(c) <= n, f"length exceeded {n}")


def _h_slength(cc, st, path, spec, schema):
    n = spec.params["value"]
    _gated_check(cc, st, path, "length", f"len == {n}",
                 lambda c: F.octet_length(c) == n,
                 f"length not equal to {n}")


def _go_line_semantics(pattern: str) -> str:
    r"""Go RE2 line terminators for a Java ``rlike`` pattern. Java's
    ``.`` rejects ``\n``, ``\r``, ``\x85``, ``\u2028`` and ``\u2029``,
    and its ``$`` also matches before a final one of them; RE2's ``.``
    rejects only ``\n`` and its ``$`` (without the m flag) is end of
    text. ``(?d)`` (UNIX_LINES) leaves ``\n`` the only terminator, and
    each unescaped ``$`` outside a character class becomes ``\z``."""
    out, i, in_class = [], 0, False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if in_class and pattern.startswith("[:", i) and ":]" in pattern[i:]:
            j = pattern.index(":]", i) + 2          # [[:alpha:]]
            out.append(pattern[i:j])
            i = j
            continue
        if in_class:
            in_class = ch != "]"
        elif ch == "[":
            # a ']' first in the class (after an optional '^') is literal
            j = i + 1 + pattern.startswith("^", i + 1)
            j += pattern.startswith("]", j)
            out.append(pattern[i:j])
            i, in_class = j, True
            continue
        elif ch == "$":
            ch = r"\z"
        out.append(ch)
        i += 1
    return "(?d)" + "".join(out)


def _h_regex(cc, st, path, spec, schema):
    pattern = spec.params["pattern"]
    name = spec.params.get("display", "regex")
    go_pattern = _go_line_semantics(pattern)
    _gated_check(cc, st, path, name, pattern,
                 lambda c: c.rlike(go_pattern), f"not match with {pattern}")


def _h_lowercase(cc, st, path, spec, schema):
    # strings.ToLower (string.go:192-194) is the Unicode SIMPLE mapping;
    # F.lower is the JDK FULL mapping (final sigma, İ→i+U+0307) — they
    # diverge, so the translate-table in functions/casing.py is used
    from .functions.casing import go_lower
    _gated_transform(cc, st, path, "lowercase", go_lower)


def _h_uppercase(cc, st, path, spec, schema):
    # strings.ToUpper (string.go:198-200), simple mapping: ß/ﬁ/ΐ stay,
    # ᾀ→ᾈ — F.upper would expand them (SS/FI/Ϊ́/ἈΙ)
    from .functions.casing import go_upper
    _gated_transform(cc, st, path, "uppercase", go_upper)


def _h_strim(cc, st, path, spec, schema):
    # Go strings.TrimSpace trims Unicode whitespace = the White_Space
    # property (string.go:204-206); bare Java \s is ASCII-only, so lift
    # it with (?U) (UNICODE_CHARACTER_CLASS: \s == \p{IsWhite_Space},
    # Go-equivalent -- covers the full Zs range, not just the two
    # hand-listed code points the old class had).
    _gated_transform(
        cc, st, path, 'trim',
        lambda c: F.regexp_replace(c, r'(?U)^\s+|\s+$', ''))


# bools ------------------------------------------------------------------


def _h_truthy(cc, st, path, spec, schema):
    _coerce_bool(st, spec.params["values"], True)


def _h_falsy(cc, st, path, spec, schema):
    _coerce_bool(st, spec.params["values"], False)


def _coerce_bool(st: ColState, values, result: bool):
    # bool.go:94-113: listed values become true/false
    match = F.lit(False)
    for v in values:
        match = match | _dyn_eq(st, v)
    st.typed = F.when(match, F.lit(result)).otherwise(st.typed)
    st.is_typed = st.is_typed | match


# arrays -----------------------------------------------------------------


def _h_amin(cc, st, path, spec, schema):
    n = spec.params["value"]
    _gated_check(cc, st, path, "min", f"len >= {n}",
                 lambda c: F.size(c) >= n, f"length less than {n}")


def _h_amax(cc, st, path, spec, schema):
    n = spec.params["value"]
    _gated_check(cc, st, path, "max", f"len <= {n}",
                 lambda c: F.size(c) <= n, f"length exceeded {n}")


def _h_alength(cc, st, path, spec, schema):
    n = spec.params["value"]
    _gated_check(cc, st, path, "length", f"len == {n}",
                 lambda c: F.size(c) == n, f"length not equal to {n}")


def _h_items(cc, st, path, spec, schema):
    # array.go:94-114: AND over elements of (OR over schemas)
    schemas: List[BaseSchema] = spec.params["schemas"]
    elem_type = (st.spark_type.elementType
                 if isinstance(st.spark_type, T.ArrayType) else None)

    def elem_ok(e: Column) -> Column:
        preds = [compile_pass_predicate(s, e, elem_type, cc.root_schema)
                 for s in schemas]
        if not preds:
            # Items() with zero schemas is legal in the reference: no
            # schema can validate an element, so every element fails and
            # only empty arrays pass (array.go:95-113)
            return F.lit(False)
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    _gated_check(cc, st, path, "items", "items",
                 lambda c: F.forall(c, elem_ok), "not valid type")


# objects ----------------------------------------------------------------


def _presence(st: ColState, key: str) -> Column:
    """Key presence. On fixed (struct) schemas a key "present" means IS NOT
    NULL (FIXTURES.md §4 mapping); on MapType it is real key presence."""
    if isinstance(st.spark_type, T.MapType):
        return F.map_contains_key(st.typed, key)
    if isinstance(st.spark_type, T.StructType):
        if key not in st.spark_type.fieldNames():
            return F.lit(False)
        return st.typed.getField(key).isNotNull()
    raise TypeError("with/without on a non-object field")


def _object_gate(cc, st, path, name: str, expected: str) -> bool:
    """With/Without on a non-object value: the reference aborts per-row
    with `is not object` (object.go:96-99, 114-117) rather than failing
    schema compilation. Returns True when the chain can proceed."""
    if isinstance(st.spark_type, (T.MapType, T.StructType)):
        return True
    cc.add(path, name, expected, st.ev, F.lit(False), st.display(),
           _type_fail_msg(path, st))
    _abort_step(cc, st, F.lit(True))
    return False


def _h_with(cc, st, path, spec, schema):
    # object.go:94-109: abort naming the FIRST missing key
    keys = spec.params["keys"]
    if not _object_gate(cc, st, path, "with", go_repr_list(keys)):
        return
    presences = [(k, _presence(st, k)) for k in keys]
    passed = F.lit(True)
    for _, p in presences:
        passed = passed & p
    first_missing = F.array_compact(F.array(
        *[F.when(~p, F.lit(k)).otherwise(F.lit(None)) for k, p in presences]))
    message = F.concat(F.lit(f"field `{path}` not contains "),
                       F.coalesce(F.try_element_at(first_missing, F.lit(1)),
                                  F.lit("")))
    cc.add(path, "with", go_repr_list(keys), st.ev, passed, st.display(),
           message)
    _abort_step(cc, st, ~passed)


def _h_without(cc, st, path, spec, schema):
    # object.go:112-131: abort listing ALL present keys, comma-joined
    keys = spec.params["keys"]
    if not _object_gate(cc, st, path, "without", go_repr_list(keys)):
        return
    presences = [(k, _presence(st, k)) for k in keys]
    passed = F.lit(True)
    for _, p in presences:
        passed = passed & ~p
    present = F.array_compact(F.array(
        *[F.when(p, F.lit(k)).otherwise(F.lit(None)) for k, p in presences]))
    message = F.concat(F.lit(f"field `{path}` contains "),
                       F.array_join(present, ","))
    cc.add(path, "without", go_repr_list(keys), st.ev, passed, st.display(),
           message)
    _abort_step(cc, st, ~passed)


def _sorted_children(children: Dict[str, BaseSchema]):
    # object.go:17-26: stable sort by descending priority; our tiebreak is
    # dict insertion order (the reference's is Go map randomness)
    items = list(children.items())
    return sorted(items, key=lambda kv: -kv[1].priority)


def _h_keys(cc, st, path, spec, schema):
    """The object walk (object.go:139-169): children in priority order,
    whole-walk abort on first child error, write-back of mutated values."""
    children = spec.params["children"]
    if not (isinstance(st.spark_type, T.StructType) or st.untyped is None):
        # non-object value: the gate aborts (object.go:141-144)
        cc.add(path, "keys", "object", st.ev, st.is_typed, st.display(),
               _type_fail_msg(path, st))
        _abort_step(cc, st, ~st.is_typed)
    if isinstance(st.spark_type, T.MapType):
        # map-backed document: children validate the VALUE at each key
        # (missing key ⇒ NULL ⇒ jio's nil, so Required/Optional behave
        # exactly like the reference's absent-key case). Write-back into
        # the map value is not representable in a typed column, so the
        # normalized map keeps its original values — verdicts and the
        # walk's first-error stop are full-fidelity.
        walk_ok = st.ev
        walk_err = F.lit(False)
        vtype = st.spark_type.valueType
        for key, child_schema in _sorted_children(children):
            # try_element_at: NULL for missing keys (ANSI-mode getItem
            # would throw MAP_KEY_DOES_NOT_EXIST)
            child_col = F.try_element_at(st.typed, F.lit(key))
            child_path = f"{path}.{key}" if path else key
            sub = compile_chain(child_schema, child_col, vtype,
                                child_path, cc, init_ev=walk_ok)
            walk_ok = cc.emit("walkok", walk_ok & ~sub.err)
            walk_err = cc.emit("walkerr", walk_err | sub.err)
            norm = cc.emit("norm", _normalized_value(sub, child_col))
            cc.completed[child_path] = (norm, sub.vtype)
            cc.normalized[child_path] = norm
        _abort_step(cc, st, walk_err)
        return
    if not isinstance(st.spark_type, T.StructType):
        return

    # child chains gate on "object still active AND no earlier child
    # errored" — `walk_ok` threads with single references
    walk_ok = st.ev
    walk_err = F.lit(False)
    norm_fields: Dict[str, Column] = {}
    fallback_fields: Dict[str, Column] = {}
    norm_types: Dict[str, T.DataType] = {}
    for key, child_schema in _sorted_children(children):
        if key not in st.spark_type.fieldNames():
            if not cc.pure:
                # top-level document schema: the column is the validation
                # TARGET — schema-on-write config error, fail loudly
                raise KeyError(f"keys(): column {key!r} missing under "
                               f"{path or '<root>'}")
            # condition/Items predicate: Go reads the key dynamically and
            # a missing key is nil (object.go:156 `value, _ :=
            # ctxValue[obj.key]`) — the struct's static shape plays the
            # document's role here, so the child validates an always-nil
            # value (optional/default/required decide, like any nil).
            # No write-back entry: the rebuilt struct must keep its shape.
            sub = compile_chain(child_schema, F.lit(None), None,
                                f"{path}.{key}" if path else key, cc,
                                init_ev=walk_ok)
            walk_ok = cc.emit("walkok", walk_ok & ~sub.err)
            walk_err = cc.emit("walkerr", walk_err | sub.err)
            continue
        child_dt = st.spark_type[key].dataType
        child_col = st.typed.getField(key)
        child_path = f"{path}.{key}" if path else key
        sub = compile_chain(child_schema, child_col, child_dt, child_path,
                            cc, init_ev=walk_ok)
        walk_ok = cc.emit("walkok", walk_ok & ~sub.err)
        walk_err = cc.emit("walkerr", walk_err | sub.err)
        # write-back (object.go:163-165): mutated value lands only when the
        # child chain completed without skip/abort (= sub.ev at end)
        norm = cc.emit("norm", _normalized_value(sub, child_col))
        norm_fields[key] = norm
        fallback_fields[key] = _fallback_value(sub, child_col)
        norm_types[key] = _normalized_dtype(sub, child_dt)
        cc.completed[child_path] = (norm, sub.vtype)
        cc.normalized[child_path] = norm

    # rebuild the struct with written-back children (object.go:163-165);
    # the walk_err fallback is applied PER FIELD with an explicit
    # try_cast to the normalized field's type — a whole-struct
    # `when(walk_err, st.typed)` would make Spark insert an implicit
    # struct cast that HARD-casts original values (e.g. a '$5' string
    # under a Number child) and crashes at runtime on any row where a
    # sibling failed
    rebuilt = F.struct(*[
        (F.when(walk_err, fallback_fields[f.name])
          .otherwise(norm_fields[f.name])
         if f.name in norm_fields
         else st.typed.getField(f.name)).alias(f.name)
        for f in st.spark_type.fields])
    st.typed = rebuilt
    # the rebuilt struct's field types can differ from the original's
    # (a coercing child like ParseString writes back its final type);
    # spark_type must track the REBUILT type or the PARENT level's
    # when(completed, rebuilt).otherwise(original) makes Spark insert
    # the same implicit hard cast this function's per-field fallback
    # exists to avoid — one nesting level up
    st.spark_type = T.StructType([
        T.StructField(f.name, norm_types.get(f.name, f.dataType), True)
        for f in st.spark_type.fields])
    _abort_step(cc, st, walk_err)
    if path:
        cc.normalized[path] = st.typed


def _retagged(sub: ColState) -> bool:
    """Whether the chain retagged an Any carrier (Set substituted a
    differently-typed value) — the write-back then rides a try_cast to
    the ORIGINAL column type (see _normalized_value)."""
    orig_tag = (type_tag(sub.orig_spark_type)
                if sub.orig_spark_type is not None else None)
    return (orig_tag is not None and orig_tag != sub.vtype
            and not (sub.vtype == "struct" and orig_tag == "map"))


def _struct_coerced(sub: ColState) -> bool:
    """Whether a struct child's keys walk rebuilt it with DIFFERENT field
    types (a coercing child like ParseString wrote back its final type)
    — branches mixing the rebuilt and original struct types need an
    explicit try_cast or Spark inserts a hard-failing implicit cast."""
    return (sub.vtype == "struct" and not _retagged(sub)
            and isinstance(sub.spark_type, T.StructType)
            and isinstance(sub.orig_spark_type, T.StructType)
            and sub.spark_type != sub.orig_spark_type)


def _normalized_dtype(sub: ColState, child_dt: T.DataType) -> T.DataType:
    """The Spark type of :func:`_normalized_value`'s result for this
    child — the parent keys walk tracks it so ITS rebuilt struct type
    stays truthful (see the spark_type update in _h_keys)."""
    if sub.untyped is None:
        if _retagged(sub):
            return sub.orig_spark_type
        return sub.spark_type if sub.spark_type is not None else child_dt
    if sub.vtype in ("double", "boolean", "string"):
        return _null_type(sub.vtype)
    return child_dt


def _fallback_value(sub: ColState, original: Column) -> Column:
    """The original value, explicitly coerced to the same Spark type as
    :func:`_normalized_value`'s result for this child — so the per-field
    ``when(walk_err, fallback).otherwise(norm)`` branches agree on type
    and no implicit (hard-failing) cast is inserted."""
    if sub.untyped is None:
        if _struct_coerced(sub):
            return original.try_cast(sub.spark_type)
        return original
    if sub.vtype not in ("double", "boolean", "string"):
        return original
    return original.try_cast(_null_type(sub.vtype))


def _normalized_value(sub: ColState, original: Column) -> Column:
    """Write-back rule (object.go:163-165): the mutated value lands in the
    output only when the child's chain completed without skip/abort;
    otherwise the original (possibly NULL) value stays. When the dynamic
    value's final type differs from the column type the schema type wins
    and non-conforming originals become NULL (typed-table constraint;
    documented deviation from jio's heterogeneous JSON output)."""
    completed = sub.ev
    if sub.untyped is None:
        out = sub.typed
        if _retagged(sub):
            # retagged Any chain (Set substituted a differently-typed
            # value): the output column can only hold the ORIGINAL type,
            # so the write-back rides a try_cast (typed-table deviation,
            # same class as the schema-type-wins rule below). The
            # struct-over-map carve-out mirrors _init_state's type
            # equivalence — that pair is NOT a retag.
            out = sub.typed.cast("string").try_cast(sub.orig_spark_type)
        elif _struct_coerced(sub):
            # the child's keys walk rebuilt the struct with coerced
            # field types: a bare otherwise(original) would make Spark
            # insert an implicit HARD cast of the original struct
            # (crashing at runtime on any non-conforming row — the same
            # class the per-field fallback fixes one level down)
            return F.when(completed, out).otherwise(
                original.try_cast(sub.spark_type))
        return F.when(completed, out).otherwise(original)
    if sub.vtype not in ("double", "boolean", "string"):
        # array/object schemas have no coercion rules: a mismatched column
        # can never become typed, so the original value stays as-is
        return original
    target = _null_type(sub.vtype)
    # completed ⇒ is_typed: every typed chain ends with the final type
    # assertion, which aborts (ev = false) wherever is_typed is false,
    # so no completed-but-untyped state can exist here
    return F.when(completed, sub.typed) \
            .otherwise(original.try_cast(target))


# custom ---------------------------------------------------------------


def _h_transform(cc, st, path, spec, schema):
    """Custom Transform (any.go:38-41): fn is Column -> Column; the result
    replaces the value. Use a pandas_udf-wrapped fn for Python logic.
    The reference transforms the CURRENT raw value whatever its type, so
    fn applies to the untyped branch too (e.g. PrependTransform stripping
    '$' from a string before ParseString on a Number schema) — the typed
    placeholder alone would hand fn an always-NULL column. Whether fn can
    handle the untyped column's type is checked EAGERLY by analyzing a
    probe expression against a one-row frame (Column building is lazy, so
    a bare try/except here could never catch the AnalysisException that
    would otherwise surface at action time and fail the whole plan); if
    the probe fails analysis, that branch keeps its value (typed-column
    constraint, documented). fns that analyze only via implicit casts
    behave as Spark casts them — also documented."""
    fn = spec.params["fn"]
    st.typed = fn(st.typed)
    if st.untyped is not None and _fn_analyzes(fn, st.spark_type):
        try:
            st.untyped = fn(st.untyped)
        except Exception:
            pass


def _fn_analyzes(fn, dtype: Optional[T.DataType]) -> bool:
    """Can ``fn`` analyze against a column of ``dtype``? Probed against a
    one-row dummy frame — schema access forces analysis only, no job. With
    no active session (or unknown dtype) fall back to optimistic apply,
    the legacy behavior."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None or dtype is None:
        return True
    try:
        probe = spark.range(1).select(
            F.lit(None).cast(dtype).alias("_probe"))
        probe.select(fn(F.col("_probe"))).schema
        return True
    except Exception:
        return False


def _h_check(cc, st, path, spec, schema):
    fn = spec.params["fn"]
    message = spec.params.get("message", "check failed")
    if isinstance(schema, (NumberSchema, StringSchema, ArraySchema)):
        _gated_check(cc, st, path, "check", message, fn, message)
    else:
        pred = F.coalesce(fn(st.typed), F.lit(False))
        cc.add(path, "check", message, st.ev, pred, st.display(),
               _msg_value(path, st, message))
        _abort_step(cc, st, ~pred)


def _h_when(cc, st, path, spec, schema):
    """``When`` (schema.go:21-37): resolve ref from the root, test the
    condition (value equality or condition-schema pass), and where true run
    the ``then`` schema as a continuation of this field's state."""
    ref_path = spec.params["ref_path"]
    condition = spec.params["condition"]
    then: BaseSchema = spec.params["then"]
    try:
        ref_col, ref_tag, ref_ok, ref_dtype = cc.ref(ref_path)
    except KeyError:
        return  # Ref miss → no-op (schema.go:23-25)

    if isinstance(condition, BaseSchema):
        # condition schema validates the REF value in a fresh context
        # (schema.go:26-33); Skip-without-error counts as pass. The
        # ref's REAL DataType flows in, so conditions over array/
        # struct/map refs (K.array().min(1) on an array column) compile
        # against the actual column instead of a type-mismatched
        # placeholder that would gate to constant false
        cond_ok = compile_pass_predicate(condition, ref_col,
                                         ref_dtype, cc.root_schema)
    elif condition is None:
        # Go interface equality: a nil condition matches a nil ref
        # value (schema.go:35-37 — nil == nil is true), which the
        # tag-mismatch shortcut below would wrongly turn into
        # constant false
        cond_ok = ref_col.isNull()
    else:
        # Go interface equality (schema.go:35-37): values of DIFFERENT
        # dynamic types are simply unequal — never Spark's implicit-cast
        # equality ('5' == 5 must NOT match), and array/struct/map refs
        # compare false rather than failing analysis
        cond_tag = _lit_tag(condition)
        if ref_tag not in ("double", "string", "boolean", "any") \
                or (cond_tag != ref_tag and ref_tag != "any"):
            cond_ok = F.lit(False)
        else:
            cond_ok = F.coalesce(ref_col.eqNullSafe(F.lit(condition)),
                                 F.lit(False))

    # per-row unresolvable ref (NULL intermediate / absent map key) makes
    # the whole When a no-op, even for a condition schema that would pass
    # on a nil leaf value (ok=false short-circuits at schema.go:23-25
    # BEFORE the condition is ever evaluated)
    gate = cc.emit("whengate", st.ev & ref_ok & cond_ok)
    # run `then` as a CONTINUATION of this field's state: the reference
    # validates the current ctx.Value (schema.go:34-36), which includes
    # earlier coercions (parse_string/truthy/default). When the `then`
    # schema's type matches the field's — or is Any, which judges
    # whatever the live value is — seed the sub-chain with the live
    # (typed, is_typed, untyped) triple; for a type-changing `then` fall
    # back to the raw column (typed-column constraint).
    if then.TYPE == st.vtype or then.TYPE == "any":
        sub = compile_chain(then, None, st.spark_type, path, cc,
                            init_ev=gate, seed=st)
    else:
        base_col, base_dt = _current_as_column(st)
        sub = compile_chain(then, base_col, base_dt, path, cc,
                            init_ev=gate)
    # merge effects back where the condition held — the reference mutates
    # ctx.Value in place (schema.go:34-36), so later rules and the
    # normalized write-back observe `then`'s Set/Convert/Transform/
    # ParseString mutations; the typed triple AND the untyped branch both
    # merge under the gate
    st.err = st.err | sub.err
    st.ev = F.when(gate, sub.ev).otherwise(st.ev)
    merged_typed, merged_is_typed = _merge_when_value(st, sub, gate)
    st.typed = merged_typed
    st.is_typed = merged_is_typed
    if st.untyped is not None and sub.untyped is not None \
            and sub.utype == st.utype:
        st.untyped = F.when(gate, sub.untyped).otherwise(st.untyped)


def _current_as_column(st: ColState) -> Tuple[Column, Optional[T.DataType]]:
    """Materialize the current dynamic value for a sub-chain. When the value
    is still untyped (original column of a different type), hand the
    sub-chain the original column; when typed, the typed expr."""
    if st.untyped is None:
        return st.typed, st.spark_type
    return st.untyped, st.spark_type


def _merge_when_value(st: ColState, sub: ColState, gate: Column):
    """Merge a `then` sub-chain's (typed, is_typed) back into the parent
    state where the condition held."""
    if sub.vtype == st.vtype or st.vtype == "any":
        typed = F.when(gate, sub.typed).otherwise(st.typed)
        is_typed = F.when(gate, sub.is_typed).otherwise(st.is_typed)
        return typed, is_typed
    # type-changing `then` (e.g. Number().Set on a string field) is not
    # representable in a typed column; keep the parent value — the
    # sub-chain's verdicts are still recorded
    return st.typed, st.is_typed


def _tag_to_type(tag: str) -> Optional[T.DataType]:
    return {"double": T.DoubleType(), "string": T.StringType(),
            "boolean": T.BooleanType()}.get(tag)


# ---------------------------------------------------------------------------


def _contains_when(schema: BaseSchema) -> bool:
    """Does this schema tree contain a ``when`` rule anywhere (incl.
    nested Items/Keys/condition/then sub-schemas)?"""
    for spec in schema._ordered_rules():
        if spec.name == "when":
            return True
        for v in spec.params.values():
            if isinstance(v, dict):
                vals = list(v.values())
            elif isinstance(v, (list, tuple)):
                vals = list(v)
            else:
                vals = [v]
            for x in vals:
                if isinstance(x, BaseSchema) and _contains_when(x):
                    return True
    return False


def compile_pass_predicate(schema: BaseSchema, col: Column,
                           dtype: Optional[T.DataType],
                           root_schema: T.StructType) -> Column:
    """Pass/fail of a full schema chain over an expression — used for
    ``Items`` elements (array.go:100-107) and `When` condition schemas
    (schema.go:26-33): pass ⇔ ``ctx.Err == nil`` (a Skip without error,
    e.g. Optional on NULL, counts as pass).

    A ``when`` INSIDE such a sub-schema is refused at compile time: the
    reference gives condition schemas and Items elements a FRESH context
    rooted at the ref/element value (schema.go:26-33, array.go:100-103),
    while this compiler's ref resolution walks the DOCUMENT root — the
    ref would silently resolve against the wrong object (or KeyError on
    a column the element has but the document lacks). Failing loudly
    beats silently-wrong verdicts; lift the When to the field chain."""
    if _contains_when(schema):
        raise NotImplementedError(
            "when() inside an Items element or When condition schema is "
            "not supported: the reference roots its refs at the element/"
            "ref value (schema.go:26-33, array.go:100-103), which this "
            "compiler cannot rebase — lift the when() to the field chain")
    cc = CompileCtx(root_schema, collect=False, pure=True)
    sub = compile_chain(schema, col, dtype, "<cond>", cc,
                        init_ev=F.lit(True))
    return ~sub.err


_HANDLERS = {
    "optional": _h_optional,
    "required": _h_required,
    "default": _h_default,
    "set": _h_set,
    "equal": _h_equal,
    "valid": _h_valid,
    "when": _h_when,
    "check": _h_check,
    "transform": _h_transform,
    "nmin": _h_nmin,
    "nmax": _h_nmax,
    "integer": _h_integer,
    "ceil": _h_ceil,
    "floor": _h_floor,
    "round": _h_round,
    "convert": _h_convert,
    "parse_string": _h_parse_string,
    "smin": _h_smin,
    "smax": _h_smax,
    "slength": _h_slength,
    "regex": _h_regex,
    "lowercase": _h_lowercase,
    "uppercase": _h_uppercase,
    "strim": _h_strim,
    "truthy": _h_truthy,
    "falsy": _h_falsy,
    "amin": _h_amin,
    "amax": _h_amax,
    "alength": _h_alength,
    "items": _h_items,
    "with": _h_with,
    "without": _h_without,
    "keys": _h_keys,
}


# ---------------------------------------------------------------------------
# root compilation


@dataclass
class CompiledRuleSet:
    """The compiled artifact: everything the engine materializes from one
    pass over the table."""

    entries: List[VerdictEntry]
    row_pass: Column                      # per-row: no rule aborted
    violations_array: Column              # array<struct> of failed rules,
                                          # in jio walk order (first = ctx.Err)
    normalized: Dict[str, Column]         # top-level column -> normalized expr
    verdict_cols: Dict[str, Column]       # rule_id -> tri-state boolean
    stages: List[Dict[str, Column]]       # SSA state columns, in order
    internal_cols: List[str]              # names of the state columns

    def prepare(self, df: DataFrame) -> DataFrame:
        """Apply the SSA state stages; every output expression above
        references these named columns."""
        out = df
        for stage in self.stages:
            out = out.withColumns(stage)
        return out


def compile_ruleset(df: DataFrame, schema: BaseSchema) -> CompiledRuleSet:
    """Compile a root schema against a DataFrame's schema. The root schema
    plays the part of the whole-document ObjectSchema in ``ValidateJSON``
    (jio.go:22-38); a plain dict of column schemas is wrapped in
    ``K.object``."""
    if isinstance(schema, dict):
        schema = K.object(schema)
    if not isinstance(schema, ObjectSchema):
        raise TypeError("root schema must be K.object({...}) or a dict")
    dotted = sorted({k for spec in schema.rules if spec.name == "keys"
                     for k in spec.params["children"] if "." in k})
    if dotted:
        # the engine's paths, refs, and normalized-output keys are all
        # dot-delimited: a literal-dot column name would silently lose
        # its normalized output (the top-level filter below reads it as
        # nested), fail root_col's F.col parse, and collide with a real
        # nested path — refuse at compile time instead
        raise ValueError(
            f"column names containing '.' are not addressable by the "
            f"dot-delimited rule paths: {dotted}; rename the column(s) "
            f"(e.g. withColumnRenamed) before validating")

    cc = CompileCtx(df.schema, collect=True)
    # the root document is the row itself: a synthetic struct of all columns
    root_col = F.struct(*[F.col(f.name).alias(f.name)
                          for f in df.schema.fields])
    st = compile_chain(schema, root_col, df.schema, "", cc,
                       init_ev=F.lit(True))

    viol_structs = []
    verdict_cols: Dict[str, Column] = {}
    for e in cc.entries:
        failed = e.evaluated & ~e.passed
        viol_structs.append(
            F.when(failed, F.struct(
                F.lit(e.path).alias("rule_path"),
                F.lit(e.rule_name).alias("rule_name"),
                F.lit(e.expected).alias("expected"),
                e.actual.alias("actual"),
                e.message.alias("message"),
            )).otherwise(F.lit(None)))
        verdict_cols[e.rule_id] = F.when(e.evaluated, e.passed) \
                                   .otherwise(F.lit(None))

    violations_array = (F.array_compact(F.array(*viol_structs))
                        if viol_structs
                        else F.array().cast(
                            "array<struct<rule_path:string,rule_name:string,"
                            "expected:string,actual:string,message:string>>"))
    # only top-level normalized columns feed the output projection
    normalized = {p: c for p, c in cc.normalized.items() if "." not in p}
    return CompiledRuleSet(entries=cc.entries, row_pass=~st.err,
                           violations_array=violations_array,
                           normalized=normalized, verdict_cols=verdict_cols,
                           stages=cc.stages, internal_cols=cc.internal_cols)
