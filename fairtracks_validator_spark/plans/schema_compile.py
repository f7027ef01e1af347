"""Driver-side compilation: JSON-Schema(+extensions) dict → ValidationPlan.

Reference lifecycle pass 0 (``FairGTrackValidatorCli.java:63-218``): each
schema is meta-validated, its ``$id`` extracted, ``primary_key`` parsed
(``ValidatedJSONSchema.java:278-298`` — non-string members ⇒ WARNING and the
whole constraint ignored), and ``foreign_keys`` discovered by a recursive walk
over ``properties``/``items`` that builds dotted member paths with ``[]``
steps (``ValidatedJSONSchema.java:152-217``).

Here compilation happens ONCE on the driver; the output plan is a bag of pure
``Column`` expressions + key/FK specs. No per-document interpretation remains
— the compiled constants ride into executors inside the serialized plan
(≙ implicit broadcast).

Extension keywords (root ``README.md:9-81``): ``unique`` (true | [members]),
``primary_key``, ``foreign_keys`` ([{schema_id, members}]),
``foreignProperty`` ("schema_id#jpath"), ``format: curie`` (+ ``matchType``,
``namespace``), ``format: term`` (+ ``ontology``, ``matchType``,
``ancestors``).
"""

from __future__ import annotations

import dataclasses
import re
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import checks as C


class SchemaValidationError(ValueError):
    """The schema itself failed meta-schema validation — the reference
    rejects such schemas at load time (``ValidatedJSONSchema.java:250-262``,
    ``UnsupportedSchemaException`` for unknown drafts)."""


@dataclass(frozen=True)
class UniqueSpec:
    check_id: str
    members: list[str]


@dataclass(frozen=True)
class FKSpec:
    check_id: str
    target_schema_id: str
    members: list[str]
    # foreignProperty targets a named unique constraint instead of the PK
    target_check_id: str = "pk"


@dataclass
class Dims:
    """Dimension snapshots replacing the reference's lazy network caches.

    namespaces: dict ns → identifiers.org regex (≙ SQLite CURIE cache,
    ``extensions/CurieCache.java:41-67``); terms/ancestors: DataFrames
    (≙ RDF4J stores, ``extensions/TermFormat.java:204-261``).
    """

    namespaces: dict[str, str] = field(default_factory=dict)
    terms: DataFrame | None = None
    ancestors: DataFrame | None = None
    # MIRIAM ids (``MIR:00000008``) → namespace: the reference resolves CURIE
    # registry lookups by namespace OR id (``CurieCache.java:108-115,397-424``),
    # so a schema may declare its namespace by MIR id.
    namespace_ids: dict[str, str] = field(default_factory=dict)
    # collect small term dims at compile time into pure expressions (zero
    # shuffles); False forces the broadcast-join path for every term check.
    fold_term_dims: bool = True


@dataclass
class ValidationPlan:
    schema_id: str
    checks: list[C.Check] = field(default_factory=list)
    join_checks: list[C.JoinCheck] = field(default_factory=list)
    uniques: list[UniqueSpec] = field(default_factory=list)
    fks: list[FKSpec] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    # every document jPath the compiled expressions reference → optional DDL
    # hint for its expected shape (map-encoded objects). The runner aligns
    # drifted tables against this set (absent column ⇒ typed null column ⇒
    # reference "property absent" semantics) instead of crashing on
    # UNRESOLVED_COLUMN.
    jpaths: dict[str, str | None] = field(default_factory=dict)
    # cross-document $ref resolution (r4): {schema_id: schema_dict} of every
    # loaded schema — the Spark twin of everit's loaded-schema registry
    # (J/ValidatedJSONSchema.java:318-329). Empty ⇒ external refs warn.
    registry: dict = field(default_factory=dict, repr=False)
    # what the runner derives from this plan, built on first use: the
    # FK-less twin (``without_fks``) and the kernel's Column templates
    # (``runner._template``). Never compared or copied — a replaced plan
    # starts empty.
    _cache: dict = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def without_fks(self) -> "ValidationPlan":
        """This plan with its FK probes left out — the shape of stream
        micro-batches and checkpoint resumes, which probe FKs elsewhere or
        not at all. Built once, so every batch shares its kernel templates."""
        if not self.fks:
            return self
        if "without_fks" not in self._cache:
            self._cache["without_fks"] = dataclasses.replace(self, fks=[])
        return self._cache["without_fks"]


def _note_path(plan: ValidationPlan, path: str, ddl: str | None = None) -> None:
    if path and path != ".":
        plan.jpaths.setdefault(path, ddl)
        if ddl is not None:
            plan.jpaths[path] = ddl


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


# ------------------------------------------------------ meta-schema validation
# drafts the reference ships meta-schemas for (ValidatedJSONSchema.java:49-53)
_META_SCHEMA_RE = re.compile(r"^https?://json-schema\.org/(draft-0?[467])/schema#?$")
_TYPE_NAMES = {"object", "array", "string", "number", "integer", "boolean", "null"}


def validate_schema_document(schema) -> list[str]:
    """Structural validation of a schema AGAINST its meta-schema — the
    checks everit's meta-validation performs for the keyword surface this
    compiler implements (``ValidatedJSONSchema.java:250-262``). Returns a
    list of error strings (empty = valid). Extension keywords (``unique``,
    ``primary_key``, ...) are NOT meta-validated here: the reference treats
    their malformations as load-time warnings, reproduced in the compiler."""
    if not isinstance(schema, dict):
        return ["schema document is not a JSON object"]
    errs: list[str] = []
    decl = schema.get("$schema")
    if decl is not None and not isinstance(decl, str):
        errs.append("#/$schema: must be a string")
    elif isinstance(decl, str) and not _META_SCHEMA_RE.match(decl):
        errs.append(
            f"#/$schema: unsupported meta-schema {decl!r} "
            "(draft-04/06/07 supported — UnsupportedSchemaException)"
        )
    _meta_walk(schema, "#", errs)
    return errs


def _meta_walk(node, where: str, errs: list[str], depth: int = 0) -> None:
    if isinstance(node, bool):  # draft-06+ boolean schemas are valid anywhere
        return
    if depth > 64 or len(errs) > 50:
        return
    if not isinstance(node, dict):
        errs.append(f"{where}: subschema must be an object or boolean")
        return

    def bad(kw: str, msg: str) -> None:
        errs.append(f"{where}/{kw}: {msg}")

    t = node.get("type")
    if t is not None:
        if isinstance(t, str):
            if t not in _TYPE_NAMES:
                bad("type", f"unknown type {t!r}")
        elif isinstance(t, list):
            if not all(isinstance(x, str) and x in _TYPE_NAMES for x in t):
                bad("type", "array entries must be valid type names")
        else:
            bad("type", "must be a string or array of strings")
    for kw in ("minimum", "maximum", "multipleOf"):
        v = node.get(kw)
        if v is not None and (isinstance(v, bool) or not isinstance(v, (int, float))):
            bad(kw, "must be a number")
    for kw in ("exclusiveMinimum", "exclusiveMaximum"):
        # draft-04 allows the boolean form (modifier of minimum/maximum);
        # draft-06+ use the numeric form — the reference loads both drafts
        v = node.get(kw)
        if v is not None and not isinstance(v, (bool, int, float)):
            bad(kw, "must be a number (draft-06+) or boolean (draft-04)")
    mo = node.get("multipleOf")
    if isinstance(mo, (int, float)) and not isinstance(mo, bool) and mo <= 0:
        bad("multipleOf", "must be > 0")
    for kw in ("minLength", "maxLength", "minItems", "maxItems",
               "minProperties", "maxProperties"):
        v = node.get(kw)
        if v is not None and (isinstance(v, bool) or not isinstance(v, int) or v < 0):
            bad(kw, "must be a non-negative integer")
    p = node.get("pattern")
    if p is not None:
        if not isinstance(p, str):
            bad("pattern", "must be a string")
        else:
            try:
                re.compile(p)
            except re.error as e:
                bad("pattern", f"invalid regex: {e}")
    e = node.get("enum")
    if e is not None and (not isinstance(e, list) or not e):
        bad("enum", "must be a non-empty array")
    r = node.get("required")
    if r is not None and (
        not isinstance(r, list) or not all(isinstance(x, str) for x in r)
    ):
        bad("required", "must be an array of strings")
    for kw in ("uniqueItems",):
        v = node.get(kw)
        if v is not None and not isinstance(v, bool):
            bad(kw, "must be a boolean")
    ref = node.get("$ref")
    if ref is not None and not isinstance(ref, str):
        bad("$ref", "must be a string")
    ap = node.get("additionalProperties")
    if ap is not None and not isinstance(ap, (bool, dict)):
        bad("additionalProperties", "must be a boolean or schema")
    elif isinstance(ap, dict):
        _meta_walk(ap, f"{where}/additionalProperties", errs, depth + 1)
    for obj_kw in ("properties", "definitions"):
        v = node.get(obj_kw)
        if v is not None:
            if not isinstance(v, dict):
                bad(obj_kw, "must be an object")
            else:
                for k, s in v.items():
                    _meta_walk(s, f"{where}/{obj_kw}/{k}", errs, depth + 1)
    items = node.get("items")
    if items is not None:
        if isinstance(items, (dict, bool)):
            _meta_walk(items, f"{where}/items", errs, depth + 1)
        elif isinstance(items, list):
            for i, s in enumerate(items):
                _meta_walk(s, f"{where}/items/{i}", errs, depth + 1)
        else:
            bad("items", "must be a schema or array of schemas")
    for comb in ("anyOf", "oneOf", "allOf"):
        v = node.get(comb)
        if v is not None:
            if not isinstance(v, list) or not v:
                bad(comb, "must be a non-empty array of schemas")
            else:
                for i, s in enumerate(v):
                    _meta_walk(s, f"{where}/{comb}/{i}", errs, depth + 1)
    nt = node.get("not")
    if nt is not None:
        _meta_walk(nt, f"{where}/not", errs, depth + 1)
    for cond_kw in ("if", "then", "else", "contains", "propertyNames"):
        v = node.get(cond_kw)
        if v is not None:
            _meta_walk(v, f"{where}/{cond_kw}", errs, depth + 1)
    pp = node.get("patternProperties")
    if pp is not None:
        if not isinstance(pp, dict):
            bad("patternProperties", "must be an object")
        else:
            for k, s in pp.items():
                try:
                    re.compile(k)
                except re.error as exc:
                    bad("patternProperties", f"invalid key regex {k!r}: {exc}")
                _meta_walk(s, f"{where}/patternProperties/{k}", errs, depth + 1)
    dp = node.get("dependencies")
    if dp is not None:
        if not isinstance(dp, dict):
            bad("dependencies", "must be an object")
        else:
            for k, v in dp.items():
                if isinstance(v, list):
                    if not all(isinstance(x, str) for x in v):
                        bad("dependencies", f"{k}: array form must contain strings")
                else:
                    _meta_walk(v, f"{where}/dependencies/{k}", errs, depth + 1)


def compile_schema(
    schema: dict,
    dims: Dims | None = None,
    validate_meta: bool = True,
    registry: dict[str, dict] | None = None,
) -> ValidationPlan:
    """Compile one schema to a ValidationPlan. Pass ``registry`` (e.g. the
    ``load_schemas`` result) to resolve cross-document ``$ref``s against the
    other loaded schemas — ``compile_schema(s, registry=schemas)``."""
    dims = dims or Dims()
    schema_id = schema.get("$id") or schema.get("id")
    if not schema_id:
        raise ValueError("schema has no $id/id (SchemaNoIdException)")
    if validate_meta:
        errs = validate_schema_document(schema)
        if errs:
            raise SchemaValidationError(
                f"schema {schema_id} failed meta-schema validation: "
                + "; ".join(errs[:10])
            )
    plan = ValidationPlan(schema_id=schema_id)
    plan.registry = registry or {}

    # ---- root-level primary_key (ValidatedJSONSchema.java:278-298)
    pk = schema.get("primary_key")
    if pk is not None:
        _add_members_constraint(plan, "pk", pk, "primary key")

    # ---- root-level compound unique (README.md:21-23)
    uq = schema.get("unique")
    if isinstance(uq, list):
        _add_members_constraint(plan, "unique", uq, "unique")
    elif uq is not None and not isinstance(uq, bool):
        _warn(plan, f"unique in {schema_id} is not a boolean or array. Ignoring it")

    _warn_unknown_keywords(plan, schema, "#")
    _walk(plan, schema, prefix="", dims=dims, root=schema)
    return plan


# keywords the compiler understands at some level (standard draft-07 +
# annotation keywords + the reference's extension keywords). Anything else
# compiles to NOTHING — so it must warn, or a typo'd schema silently
# validates less than its author believes (VERDICT r1 "What's missing" #1).
_HANDLED_KEYWORDS = {
    # core / annotations
    "$id", "id", "$schema", "$ref", "$comment", "definitions", "title",
    "description", "default", "examples", "readOnly", "writeOnly",
    # validation keywords
    "type", "const", "enum", "pattern", "format", "multipleOf", "minimum",
    "maximum", "exclusiveMinimum", "exclusiveMaximum", "minLength",
    "maxLength", "minItems", "maxItems", "uniqueItems", "properties",
    "items", "required", "additionalProperties", "anyOf", "oneOf", "allOf",
    "not", "if", "then", "else", "contains", "patternProperties",
    "propertyNames", "dependencies", "minProperties", "maxProperties",
    # fairtracks extension keywords (root README.md:9-81)
    "unique", "primary_key", "foreign_keys", "foreignProperty", "namespace",
    "matchType", "ontology", "ancestors", "x-encoding",
}


def _warn_unknown_keywords(plan: ValidationPlan, sub: dict, where: str) -> None:
    for kw in sub:
        if kw not in _HANDLED_KEYWORDS:
            _warn(plan, f"unsupported JSON-Schema keyword {kw!r} at {where} — "
                        "not enforced")


# ----------------------------------------------------------- $ref resolution
def _json_pointer(root, ref: str):
    """Resolve an intra-document JSON pointer (``#/definitions/x``)."""
    if not ref.startswith("#"):
        return None  # external refs are not supported (vendored-schema model)
    node = root
    frag = ref[1:].lstrip("/")
    if not frag:
        return root
    for part in frag.split("/"):
        part = part.replace("~1", "/").replace("~0", "~")
        if isinstance(node, dict) and part in node:
            node = node[part]
        elif isinstance(node, list) and part.isdigit() and int(part) < len(node):
            node = node[int(part)]
        else:
            return None
    return node


def _requalify(node, doc_id: str):
    """Deep-copy a subtree pulled from another schema document, rewriting
    its refs so they keep resolving against their OWNING document after
    inlining: ``#/...`` becomes ``<doc_id>#/...`` and relative document
    refs resolve against the owner's $id (RFC 3986 join)."""
    from urllib.parse import urljoin

    if isinstance(node, dict):
        out = {}
        for k, v in node.items():
            if k == "$ref" and isinstance(v, str):
                out[k] = doc_id + v if v.startswith("#") else urljoin(doc_id, v)
            else:
                out[k] = _requalify(v, doc_id)
        return out
    if isinstance(node, list):
        return [_requalify(x, doc_id) for x in node]
    return node


def _resolve_external(plan: ValidationPlan, root: dict, ref: str):
    """Cross-document $ref (r4): ``other-id#/ptr`` (or a relative document
    ref) resolves through ``plan.registry`` — mirroring everit's registry
    resolution in the reference (J/ValidatedJSONSchema.java:318-329).
    Returns the requalified target subtree, or None if unknown."""
    from urllib.parse import urljoin

    doc_part, _, frag = ref.partition("#")
    base = root.get("$id") or root.get("id") or ""
    for cand in (doc_part, urljoin(str(base), doc_part)):
        target = plan.registry.get(cand)
        if target is not None:
            node = _json_pointer(target, "#" + frag)
            if node is None:
                return None
            return _requalify(node, cand)
    return None


def _deref(plan: ValidationPlan, root: dict, sub: dict) -> dict:
    """Follow ``$ref`` chains (draft-07 semantics: $ref replaces siblings).
    ``#/...`` pointers resolve within ``root``; other refs resolve across
    documents through ``plan.registry`` (r4). Cycles / unresolvable refs
    warn and compile to nothing rather than silently weakening the plan."""
    seen: set[str] = set()
    while isinstance(sub, dict) and isinstance(sub.get("$ref"), str):
        ref = sub["$ref"]
        if ref in seen:
            _warn(plan, f"cyclic $ref {ref} — constraints not enforced")
            return {}
        seen.add(ref)
        if ref.startswith("#"):
            target = _json_pointer(root, ref)
        else:
            target = _resolve_external(plan, root, ref)
        if target is None:
            _warn(plan, f"unresolvable $ref {ref!r} — constraints not enforced")
            return {}
        sub = target
    return sub if isinstance(sub, dict) else {}


def _add_members_constraint(plan: ValidationPlan, check_id: str, members, kind: str):
    if not isinstance(members, list) or not all(isinstance(m, str) for m in members):
        # reference: "primary key ... is not composed by strings defining its
        # attributes. Ignoring it" (ValidatedJSONSchema.java:285-289)
        _warn(plan, f"{kind} in {plan.schema_id} is not composed by strings "
                    "defining its attributes. Ignoring it")
        return
    for m in members:
        _note_path(plan, m)
    plan.uniques.append(UniqueSpec(check_id=check_id, members=list(members)))


def _warn(plan: ValidationPlan, msg: str):
    plan.warnings.append(msg)
    warnings.warn(msg, stacklevel=3)


def _walk(
    plan: ValidationPlan,
    schema: dict,
    prefix: str,
    dims: Dims,
    root: dict | None = None,
    depth: int = 0,
):
    """Recursive walk mirroring findFKs (ValidatedJSONSchema.java:160-217)
    extended to also compile per-property keyword checks."""
    root = root if root is not None else schema
    if depth > 32:
        _warn(plan, f"schema nesting deeper than 32 at {prefix or '#'} — truncated")
        return
    # array wrapper: descend into items, extending the path with []
    if isinstance(schema.get("items"), list):
        # draft-07 tuple form: per-position subschemas, matching the
        # reference's items[] walk (J/ValidatedJSONSchema.java:166-173).
        # Scalar constraints fold to element_at predicates; dict subschemas
        # are additionally walked at "[i]" paths for nested FK discovery.
        if not prefix or "[" in prefix:
            _warn(plan, f"tuple-form 'items' at {prefix or '#'} needs a "
                        "non-fan-out array path — not enforced")
            return
        _note_path(plan, prefix)
        for i, s in enumerate(schema["items"]):
            if isinstance(s, dict):
                s = _deref(plan, root, s)
            if s is False:
                plan.checks.append(C.tuple_item_forbidden_check(prefix, i))
                continue
            if s is True or s == {}:
                continue
            # keywords the recursive walk below handles at the [i] path
            walk_kws = {"properties", "required", "items", "foreign_keys",
                        "unique", "primary_key", "foreignProperty",
                        "dependencies", "x-encoding"}
            scalar_part = {k: v for k, v in s.items() if k not in walk_kws}
            pred = _element_pred(scalar_part) if scalar_part else None
            if scalar_part and pred is None:
                _warn(plan, f"items[{i}] at {prefix} uses keywords beyond "
                            "the scalar set — position not enforced")
            elif pred is not None:
                plan.checks.append(C.tuple_item_check(prefix, i, pred))
            _walk(plan, s, prefix=f"{prefix}[{i}]", dims=dims, root=root,
                  depth=depth + 1)
        return
    elif isinstance(schema.get("items"), dict):
        schema = _deref(plan, root, schema["items"])
        if prefix:
            prefix = prefix + "[]"

    # this level's foreign_keys
    fks = schema.get("foreign_keys")
    if isinstance(fks, list):
        for i, fk in enumerate(fks):
            if not (isinstance(fk, dict) and "schema_id" in fk and "members" in fk):
                continue  # only valid declarations taken into account
            members = fk["members"]
            if not isinstance(members, list):
                continue
            comps = []
            for comp in members:
                comp = str(comp)
                comps.append(
                    f"{prefix}.{comp}" if comp and comp != "." and prefix else (comp if comp and comp != "." else prefix)
                )
            for comp in comps:
                _note_path(plan, comp)
            plan.fks.append(
                FKSpec(
                    check_id=f"fk:{prefix or '.'}:{i}",
                    target_schema_id=str(fk["schema_id"]),
                    members=comps,
                )
            )

    # required/dependencies do NOT need a properties dict — draft-07 allows
    # `{"required": ["a"]}` alone, and dropping it silently weakens the
    # schema (code-review r3: this returned before the loops below)
    props = schema.get("properties")
    dotted = (prefix + ".") if prefix else ""

    for r in schema.get("required", []) or []:
        _note_path(plan, f"{dotted}{r}")
        plan.checks.append(C.required_check(f"{dotted}{r}"))

    # property dependencies (array form) over struct/flat columns; map-encoded
    # objects compile theirs in _compile_property (map_dependencies_check)
    deps = schema.get("dependencies")
    if isinstance(deps, dict) and schema.get("x-encoding") != "map":
        for dprop, req in sorted(deps.items()):
            if (isinstance(req, list) and req
                    and all(isinstance(x, str) for x in req)):
                _note_path(plan, f"{dotted}{dprop}")
                for r in req:
                    _note_path(plan, f"{dotted}{r}")
                plan.checks.append(
                    C.presence_dependency_check(
                        f"{dotted}{dprop}", [f"{dotted}{r}" for r in req]
                    )
                )
            elif isinstance(req, (dict, bool)):
                # schema form (r4 — the last everit keyword without a
                # compilation): presence of dprop ⇒ the CONTAINING object
                # matches the dependent subschema, folded to one predicate
                # at `prefix` exactly like a combinator branch
                _note_path(plan, f"{dotted}{dprop}")
                pred = (
                    F.lit(req) if isinstance(req, bool)
                    else _subschema_pred(plan, prefix, req, dims, root,
                                         depth + 1)
                )
                plan.checks.append(
                    C.schema_dependency_check(f"{dotted}{dprop}", pred)
                )
            else:
                _warn(plan, f"dependencies[{dprop!r}] at {prefix or '#'}: "
                            "unsupported form — not enforced")

    if not isinstance(props, dict):
        return
    for name, sub in props.items():
        if not isinstance(sub, dict):
            continue
        path = f"{dotted}{name}"
        sub = _deref(plan, root, sub)
        _compile_property(plan, path, sub, dims, root=root, depth=depth)
        # recurse (objects and arrays-of-objects)
        _walk(plan, sub, prefix=path, dims=dims, root=root, depth=depth + 1)


def _subschema_pred(
    plan: ValidationPlan, path: str, sub: dict, dims: Dims, root: dict, depth: int
):
    """All constraints ``sub`` implies at ``path``, folded to ONE boolean
    Column — the building block of anyOf/oneOf/allOf/not. Compiled into a
    scratch plan so combinator branches never leak check rows of their own;
    join/uniqueness/FK constraints inside combinator branches are not
    expressible as a pure predicate and warn."""
    from ..operators.checks import checks_pass_predicate

    sub = _deref(plan, root, sub)
    tmp = ValidationPlan(schema_id=plan.schema_id)
    tmp.registry = plan.registry
    if path:
        _compile_property(tmp, path, sub, dims, root=root, depth=depth)
    else:
        # document-root subschema (schema-form dependencies at prefix ""):
        # there is no "" column — only the object-keyword walk applies
        _warn_unknown_keywords(plan, sub, "#")
    _walk(tmp, sub, prefix=path, dims=dims, root=root, depth=depth)
    if tmp.join_checks or tmp.uniques or tmp.fks:
        _warn(plan, f"combinator subschema at {path} declares join/uniqueness/FK "
                    "constraints — not supported inside combinators, ignored")
    # the scratch plan's jpaths/warnings must surface on the real plan:
    # drift alignment pads from plan.jpaths, so a path referenced only
    # inside a combinator branch would otherwise FIELD_NOT_FOUND at
    # analysis instead of reading as absent (code-review r3)
    for p, ddl in tmp.jpaths.items():
        if plan.jpaths.get(p) is None:
            plan.jpaths[p] = ddl
    for w in tmp.warnings:
        if w not in plan.warnings:
            plan.warnings.append(w)
    return checks_pass_predicate(tmp.checks)


def _element_pred(sub: dict):
    """Elementwise boolean predicate (Column → Column) for a SCALAR
    subschema — the building block of ``contains``. Returns None when the
    subschema uses keywords this form can't express."""
    scalar_kws = {"const", "enum", "pattern", "type", "minimum", "maximum",
                  "minLength", "maxLength", "multipleOf"}
    meta_kws = {"title", "description", "$comment", "examples", "default"}
    if not set(sub) <= (scalar_kws | meta_kws):
        return None

    def pred(v):
        ok = F.lit(True)
        if "const" in sub:
            ok = ok & (v == F.lit(_json_scalar_str_compile(sub["const"])))
        if "enum" in sub:
            ok = ok & v.isin([_json_scalar_str_compile(x) for x in sub["enum"]])
        if "pattern" in sub:
            ok = ok & F.coalesce(v.rlike(sub["pattern"]), F.lit(False))
        t = sub.get("type")
        if t in ("number", "integer", "boolean"):
            cast_t = {"number": "double", "integer": "long", "boolean": "boolean"}[t]
            ok = ok & v.try_cast(cast_t).isNotNull()
        # try_cast (not cast) under default ANSI mode: a non-numeric element
        # at a numeric keyword must become a failed predicate, not a
        # CAST_INVALID_INPUT job crash — and multipleOf uses exact decimal
        # arithmetic (pmod(0.3D, 0.1D)=0.0999… false-fails) — the same
        # hardening checks.py got in r3 (code-review r4)
        if "minimum" in sub:
            ok = ok & (v.try_cast("double") >= float(sub["minimum"]))
        if "maximum" in sub:
            ok = ok & (v.try_cast("double") <= float(sub["maximum"]))
        if "minLength" in sub:
            ok = ok & C.char_length_at_least(v, int(sub["minLength"]))
        if "maxLength" in sub:
            ok = ok & C.char_length_at_most(v, int(sub["maxLength"]))
        if "multipleOf" in sub:
            k = sub["multipleOf"]
            ok = ok & (
                F.pmod(
                    v.try_cast("decimal(38,12)"),
                    F.lit(k).cast("decimal(38,12)"),
                )
                == 0
            )
        return ok

    return pred


# single source of truth for stringly-typed scalar comparison — a drifting
# copy here would silently disagree with const_check/enum_check
# (code-review r4)
_json_scalar_str_compile = C._json_scalar_str


def _compile_property(
    plan: ValidationPlan,
    path: str,
    sub: dict,
    dims: Dims,
    root: dict | None = None,
    depth: int = 0,
):
    root = root if root is not None else sub
    if depth > 32:
        return
    _note_path(plan, path,
               "map<string,string>" if sub.get("x-encoding") == "map" else None)
    _warn_unknown_keywords(plan, sub, path)
    t = sub.get("type")
    if isinstance(t, str) and t in ("string", "number", "integer", "boolean"):
        plan.checks.append(C.type_check(path, t))
    if "const" in sub:
        plan.checks.append(C.const_check(path, sub["const"]))
    if "enum" in sub:
        plan.checks.append(C.enum_check(path, sub["enum"]))
    if "pattern" in sub:
        plan.checks.append(C.pattern_check(path, sub["pattern"]))
    # exclusiveMinimum/Maximum: draft-04 boolean form modifies minimum/
    # maximum; draft-06+ numeric form is standalone
    excl_min = sub.get("exclusiveMinimum")
    excl_max = sub.get("exclusiveMaximum")
    if "minimum" in sub:
        plan.checks.append(
            C.minimum_check(path, sub["minimum"], exclusive=excl_min is True)
        )
    if "maximum" in sub:
        plan.checks.append(
            C.maximum_check(path, sub["maximum"], exclusive=excl_max is True)
        )
    if excl_min is not None and not isinstance(excl_min, bool):
        plan.checks.append(C.minimum_check(path, excl_min, exclusive=True))
    if excl_max is not None and not isinstance(excl_max, bool):
        plan.checks.append(C.maximum_check(path, excl_max, exclusive=True))
    if "minLength" in sub:
        plan.checks.append(C.min_length_check(path, sub["minLength"]))
    if "maxLength" in sub:
        plan.checks.append(C.max_length_check(path, sub["maxLength"]))
    if "multipleOf" in sub:
        plan.checks.append(C.multiple_of_check(path, sub["multipleOf"]))
    # array-cardinality keywords (need the array column itself; fan-out
    # paths would address elements, so they warn instead of mis-checking)
    for kw, builder in (("minItems", C.min_items_check), ("maxItems", C.max_items_check)):
        if kw in sub:
            try:
                plan.checks.append(builder(path, sub[kw]))
            except ValueError as e:
                _warn(plan, str(e))
    if sub.get("uniqueItems") is True:
        try:
            plan.checks.append(C.unique_items_check(path))
        except ValueError as e:
            _warn(plan, str(e))

    # combinators: each branch folds to one predicate over the same path.
    # At FAN-OUT paths anyOf/oneOf must apply PER ELEMENT (draft-07
    # validates each instance; folding branches with forall over the whole
    # value set false-fails heterogeneous arrays — code-review r4). allOf
    # distributes over forall, so the whole-value fold stays correct.
    fan_out = "[]" in path
    for kw, builder in (
        ("anyOf", C.any_of_check),
        ("oneOf", C.one_of_check),
        ("allOf", C.all_of_check),
    ):
        subs = sub.get(kw)
        if not (isinstance(subs, list) and subs):
            continue
        if fan_out and kw in ("anyOf", "oneOf"):
            elem_preds = []
            for br in subs:
                if isinstance(br, bool):
                    elem_preds.append((lambda b: lambda v: F.lit(b))(br))
                elif isinstance(br, dict):
                    ep = _element_pred(_deref(plan, root, br))
                    if ep is None:
                        elem_preds = None
                        break
                    elem_preds.append(ep)
            if elem_preds is None:
                _warn(plan, f"{kw} at fan-out path {path} uses keywords "
                            "beyond the scalar set — not enforced")
                continue
            if elem_preds:
                plan.checks.append(
                    C.elementwise_combinator_check(kw, path, elem_preds)
                )
            continue
        # boolean subschemas are valid draft-06+ schemas: true ⇒ always
        # matches, false ⇒ never matches (ADVICE r2 — silently dropping
        # them inverted oneOf counts)
        preds = [
            F.lit(s) if isinstance(s, bool)
            else _subschema_pred(plan, path, s, dims, root, depth + 1)
            for s in subs
            if isinstance(s, (bool, dict))
        ]
        if preds:
            plan.checks.append(builder(path, preds))
    nt = sub.get("not")
    if isinstance(nt, bool):
        plan.checks.append(C.not_check(path, F.lit(nt)))
    elif isinstance(nt, dict):
        plan.checks.append(
            C.not_check(path, _subschema_pred(plan, path, nt, dims, root, depth + 1))
        )
    if isinstance(sub.get("if"), (dict, bool)):
        def _cond_pred(x):
            if isinstance(x, bool):
                return F.lit(x)
            if isinstance(x, dict):
                return _subschema_pred(plan, path, x, dims, root, depth + 1)
            return F.lit(True)  # absent branch is vacuous

        plan.checks.append(
            C.if_then_else_check(
                path,
                _cond_pred(sub["if"]),
                _cond_pred(sub.get("then")),
                _cond_pred(sub.get("else")),
            )
        )

    # contains: elementwise predicate over an array column — supported for
    # scalar subschemas (const/enum/pattern/type/bounds/lengths)
    if isinstance(sub.get("contains"), dict):
        pred = _element_pred(sub["contains"])
        if pred is None:
            _warn(plan, f"'contains' subschema at {path} uses keywords beyond "
                        "the scalar set — not enforced")
        else:
            try:
                plan.checks.append(C.contains_check(path, pred))
            except ValueError as e:
                _warn(plan, str(e))

    # object-shape keywords on an open-object (map-encoded) property.
    # Fixed-layout objects are StructType — closed at parse (SURVEY P6); the
    # runtime checks only apply when the column is kept as a map, which the
    # schema marks explicitly (encoding is a relational-mapping concern).
    if sub.get("x-encoding") == "map":
        if sub.get("additionalProperties") is False:
            allowed = list((sub.get("properties") or {}).keys())
            pats = [
                p for p in (sub.get("patternProperties") or {})
                if isinstance(p, str)
            ]
            plan.checks.append(
                C.additional_properties_check(path, allowed, pats)
            )
        if "minProperties" in sub:
            plan.checks.append(C.min_properties_check(path, sub["minProperties"]))
        if "maxProperties" in sub:
            plan.checks.append(C.max_properties_check(path, sub["maxProperties"]))
        pn = sub.get("propertyNames")
        if isinstance(pn, dict):
            pred = _element_pred(pn)
            if pred is None:
                _warn(plan, f"propertyNames at {path} uses keywords beyond "
                            "the scalar set — not enforced")
            else:
                plan.checks.append(C.property_names_check(path, pred))
        pp = sub.get("patternProperties")
        if isinstance(pp, dict):
            for pat, ps in sorted(pp.items()):
                if isinstance(ps, bool):
                    pred = (lambda b: lambda v: F.lit(b))(ps)
                else:
                    pred = _element_pred(ps) if isinstance(ps, dict) else None
                if pred is None:
                    _warn(plan, f"patternProperties[{pat!r}] at {path} uses "
                                "keywords beyond the scalar set — not enforced")
                else:
                    plan.checks.append(
                        C.pattern_properties_check(path, pat, pred)
                    )
        deps = sub.get("dependencies")
        if isinstance(deps, dict):
            for prop, req in sorted(deps.items()):
                if (isinstance(req, list) and req
                        and all(isinstance(x, str) for x in req)):
                    plan.checks.append(
                        C.map_dependencies_check(path, prop, req)
                    )
                else:
                    _warn(plan, f"dependencies[{prop!r}] at {path}: only the "
                                "array-of-property-names form is supported — "
                                "not enforced")
    else:
        for kw in ("patternProperties", "propertyNames",
                   "minProperties", "maxProperties"):
            if kw in sub:
                _warn(plan, f"{kw} at {path} is only enforced for map-encoded "
                            "objects (x-encoding: map) — not enforced here")

    fmt = sub.get("format")
    if fmt == "uri":
        plan.checks.append(C.format_uri_check(path))
    elif isinstance(fmt, str) and fmt in C.FORMAT_PATTERNS:
        # standard draft-07 formats — everit enforces them at load
        # (J/ValidatedJSONSchema.java:318-329); pure anchored-regex Columns
        plan.checks.append(C.format_pattern_check(path, fmt))
    elif fmt == "regex":
        try:
            plan.checks.append(C.format_regex_check(path))
        except ValueError as e:
            _warn(plan, str(e))
    elif fmt == "curie":
        # registry keyed by namespace AND by MIR id — CurieCache.get matches
        # either (``CurieCache.java:108-115``), so declarations like
        # ``namespace: "MIR:00000008"`` resolve to the same pattern.
        registry = dict(dims.namespaces)
        for mid, ns in (dims.namespace_ids or {}).items():
            if ns in dims.namespaces:
                registry.setdefault(mid, dims.namespaces[ns])
        # a MIR-id DECLARATION must also translate to the prefix the
        # extracted scheme actually carries — 'pubmed:123' extracts prefix
        # 'pubmed', never 'MIR:00000008', so basic/canonical ns membership
        # (and loose auto-promotion) would reject every prefixed value
        # (code-review r4)
        declared = [
            (dims.namespace_ids or {}).get(ns, ns)
            for ns in _as_list(sub.get("namespace", []))
        ]
        plan.checks.append(
            C.curie_check(
                path,
                match_type=sub.get("matchType", "loose"),
                namespaces=declared,
                registry=registry,
            )
        )
    elif fmt == "term":
        onts = _as_list(sub.get("ontology", []))
        if not onts:
            _warn(plan, f"format 'term' at {path} requires attribute 'ontology'")
        elif dims.terms is None:
            _warn(plan, f"format 'term' at {path}: no terms dimension loaded")
        else:
            kwargs = dict(
                match_type=sub.get("matchType", "exact"),
                ontologies=onts,
                terms=dims.terms,
                ancestors=dims.ancestors,
                required_ancestors=_as_list(sub.get("ancestors", [])) or None,
            )
            # fold the dim into a pure expression when it fits the driver
            # (zero extra shuffles — vendored snapshots always fold); fall
            # back to the broadcast-join form for live-sized ontologies
            folded = (
                C.fold_term_check(path, **kwargs) if dims.fold_term_dims else None
            )
            if folded is not None:
                plan.checks.append(folded)
            else:
                plan.join_checks.append(C.term_check(path, **kwargs))
    elif fmt is not None:
        # no silent weakening: a format this compiler cannot enforce must
        # announce itself (VERDICT r2 "What's wrong" #1)
        _warn(plan, f"unknown format {fmt!r} at {path} — not enforced")

    # per-property unique: true (README.md:11-13; python impl supports many)
    uq = sub.get("unique")
    if uq is True:
        plan.uniques.append(UniqueSpec(check_id=f"u_{path}", members=[path]))
    elif uq is not None and uq is not False:
        _warn(plan, f"unique at {path} in {plan.schema_id} is not a boolean. Ignoring it")

    # foreignProperty: "schema_id#jpath" (README.md:15-17)
    fp = sub.get("foreignProperty")
    if isinstance(fp, str) and "#" in fp:
        target_schema, target_path = fp.split("#", 1)
        plan.fks.append(
            FKSpec(
                check_id=f"foreignProperty:{path}",
                target_schema_id=target_schema,
                members=[path],
                target_check_id=f"u_{target_path}",
            )
        )
