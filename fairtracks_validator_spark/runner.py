"""Validation lifecycle: scan → pass 1 → pass 2 → verdicts/violations.

Mirrors the reference two-pass lifecycle (``FairGTrackValidatorCli.java:225-362``):

- pass 1 = vectorized predicate columns (schema checks) + uniqueness per
  constraint (``Validator.java:111-126``);
- documents failing pass 1 are masked out of pass 2
  (``FairGTrackValidatorCli.java:276-315``) — and, subtly, schema-check
  failures abort *before* PK recording (``ValidatedJSONSchema.java:360-392``),
  so their keys never enter the registry;
- pass 2 = FK probes against the completed pass-1 PK registries
  (``Validator.java:128-179``).

Two physical shapes implement it, chosen from the compiled plans alone:

- **Kernel** (``_validate_kernel``): every plan has no join checks, at most
  one uniqueness constraint with flat members, and only flat-member FKs —
  the web-scale shape, and every corpus ``validate_routed`` sees in
  practice. Each schema is ONE narrow projection plus (with a uniqueness
  constraint) ONE key-only window; each FK is a left join of the
  referencing stage against the target registry's distinct keys inside the
  same plan (AQE picks broadcast or shuffle at runtime), and registry
  emptiness (J3) counts that same distinct relation, cross-joined in-plan.
  The probe's key set is read without the window: with one flat key per
  row, the keys a registry records are exactly its schema's checked keys
  less those prior holders hold (``_KernelTemplate.probe_keys``), so a
  probed schema is ranked once, in its own output branch. The kernel has
  one output relation, ``wide`` (one row per document with its nested
  violations); ``verdicts`` is ``wide`` without them and the flat
  ``violations`` is their explode (``flat_violations``), so both share
  every exchange of ``wide``'s plan. Nothing is persisted and nothing runs
  before the caller's sink. The registry is complete before any probe by
  construction — the probe side joins the fully aggregated key set.

  The plan shape and its Columns are built once per compiled plan
  (``_KernelTemplate``, kept on the plan per run shape and live
  SparkContext, built on the first run rather than at compile time), so a
  repeated run only builds its DataFrames: about 35 commands to the JVM
  for the pages plan instead of about 2,700. Only ``wide`` is built by the
  run; ``verdicts``, ``violations`` and the registries are built when first
  read, so the observed sink (``sink_observed``) never analyses them.
- **Two-pass** (``_validate_two_pass``): join checks, more than one
  uniqueness constraint per schema, or nested / array fan-out keys. Each
  phase is its own DataFrame program over persisted intermediates, and
  registries probed by an FK are counted once (J3 + broadcast sizing).

Both scan each document once per action (the reference reads every file
twice, ``FairGTrackValidatorCli.java:265,328``).

Both take one more data input, ``prior_registries``: registry rows frozen
before this run, which hold their keys ahead of every document of it (the
reference's registry grows within a run; a later run only sees an earlier
run's keys, ``ValidatedJSONSchema.java:373-392``). A stream micro-batch
(``streaming.validate_stream``) and a checkpoint resume (``checkpoint``) are
batch runs over their slice with the earlier keys as prior holders, so the
batch, stream and resume share one first-writer-wins implementation
(``operators.uniqueness.FirstWriter`` and the fan-out cascade).
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.checks import apply_checks, checks_pass_predicate
from .operators.fk import fk_check, fk_violation
from .operators.uniqueness import FirstWriter, uniqueness_check
from .functions.expr import context_memo, let_
from .functions.keys import flat_key_parts, flat_key_string, is_flat_members
from .plans.schema_compile import ValidationPlan

VIOLATION_SCHEMA = (
    "source string, ord long, schema_id string, check_id string, "
    "key_str string, reason string, description string"
)

# per-document violation details nested inside the wide verdict relation
# (source/ord/schema_id live on the row itself)
_WIDE_VIOLATION_DDL = (
    "array<struct<check_id:string,key_str:string,reason:string,"
    "description:string>>"
)

# Columns that belong to no plan, built once per live SparkContext
_SHARED: dict = {}

# registries at or below this many distinct keys get an explicit broadcast
# hint in FK probes (≈ a few hundred MB of key strings); larger ones rely on
# AQE's runtime broadcast/sort-merge selection.
BROADCAST_MAX_PK_KEYS = 5_000_000


class ValidationResult:
    """One run's outputs: ``wide``, one row per document (source, ord,
    schema_id, validated, status) with its nested ``violations``;
    ``verdicts``, which is ``wide`` without ``violations``; the flat
    ``violations`` (``VIOLATION_SCHEMA``), the explode of those nested
    entries (``flat_violations``); and ``pk_registries`` keyed by
    (schema_id, check_id).

    A kernel run hands in only ``wide`` and ``verdicts``/``violations`` are
    its projections, built on first read, so a sink that reads only
    ``wide`` (``sink_observed``) never analyses them. The two-pass path
    hands in flat ``verdicts`` and ``violations`` instead (``wide`` None;
    ``wide_verdicts()`` joins them). Any output may be handed in as a
    zero-argument function, which runs on first read."""

    def __init__(
        self,
        verdicts=None,
        violations=None,
        pk_registries=None,
        _persisted: list | None = None,
        wide: DataFrame | None = None,
    ):
        if wide is not None:
            verdicts = partial(wide.drop, "violations")
            violations = partial(flat_violations, wide)
        self._outputs = {
            "verdicts": verdicts,
            "violations": violations,
            "pk_registries": {} if pk_registries is None else pk_registries,
        }
        self._persisted = [] if _persisted is None else _persisted
        self.wide = wide

    def _output(self, name: str):
        out = self._outputs[name]
        if callable(out):
            out = self._outputs[name] = out()
        return out

    @property
    def verdicts(self) -> DataFrame:
        return self._output("verdicts")

    @property
    def violations(self) -> DataFrame:
        return self._output("violations")

    @property
    def pk_registries(self) -> dict[tuple[str, str], DataFrame]:
        return self._output("pk_registries")

    def release(self) -> None:
        """Unpersist every relation this run cached. Call after the last
        action on verdicts/violations/registries — a long-lived session
        looping validation batches otherwise accumulates cached relations
        until eviction pressure degrades everything else (code-review r3)."""
        for p in self._persisted:
            try:
                p.unpersist()
            except Exception:
                pass
        self._persisted.clear()

    def wide_verdicts(self) -> DataFrame:
        """ONE row per document: the verdict columns plus a nested array of
        that document's violation rows — the single-output sink shape
        (``sink_observed``). A 100 TB run materializes THIS relation once;
        the flat violations view is a lazy ``explode`` over it.

        The kernel path builds it inside the existing scan+shuffle for free
        (``self.wide``). The two-pass path reconstructs it from the two
        flat relations: group the
        (output-sized) violations by document identity, left-join onto the
        verdicts — two extra output-sized shuffles, never a corpus rescan.
        """
        if self.wide is not None:
            return self.wide
        grouped = self.violations.groupBy(
            F.col("source").alias("_vsrc"),
            F.col("ord").alias("_vord"),
            F.col("schema_id").alias("_vsid"),
        ).agg(
            F.collect_list(
                F.struct("check_id", "key_str", "reason", "description")
            ).alias("_viol")
        )
        v = self.verdicts
        status = (
            F.col("status")
            if "status" in v.columns
            else F.when(F.col("validated"), "ok").otherwise("failed")
        )
        return (
            v.join(
                grouped,
                v["source"].eqNullSafe(grouped["_vsrc"])
                & v["ord"].eqNullSafe(grouped["_vord"])
                & (v["schema_id"] == grouped["_vsid"]),
                "left",
            )
            .select(
                v["source"], v["ord"], v["schema_id"], v["validated"],
                status.alias("status"),
                F.coalesce(
                    F.col("_viol"), F.array().cast(_WIDE_VIOLATION_DDL)
                ).alias("violations"),
            )
        )


def flat_violations(wide: DataFrame, *keep: str) -> DataFrame:
    """The flat violations view (``VIOLATION_SCHEMA``, then the ``keep``
    columns of ``wide``) of a wide relation: one row per nested violation
    entry, shared by the kernel's results, the stream's micro-batch writes
    and the checkpoint's partition writes.

    The ``let_`` identity wrap matters: InferFiltersFromGenerate derives a
    pushable ``size(violations) > 0`` filter when the generator input is a
    bare attribute, and only then; pushed below the projection it builds
    the nested array twice per row."""
    return wide.select(*context_memo(
        _SHARED, "flat_violations", wide.sparkSession.sparkContext,
        lambda: [
            F.col("source"), F.col("ord"), F.col("schema_id"),
            F.inline(let_(F.col("violations"), lambda x: x)),
        ],
    ), *keep)


def sink_observed(
    result: ValidationResult,
    path: str | None = None,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Materialize verdicts AND violations in ONE Spark action, with the run
    counts riding the same action as ``DataFrame.observe`` accumulators.

    This is the production sink shape: a trillion-row run cannot afford one
    Spark job per output (verdicts, violations, doc count, failed count,
    violation count = 5 serial jobs whose fixed scheduling latency does not
    shrink with cluster size — the measured N→4N scaling residue,
    BENCH/BASELINE.md). One observed write = one job: counts cost zero extra
    passes, and the flat violations view stays available as a lazy explode
    over the written table.

    ``path=None`` writes to the built-in ``noop`` format — full computation,
    no sink I/O — which is what the scaling benchmark times (a single VM's
    local disk would otherwise add a non-scaling write bottleneck that a real
    per-node cluster disk does not have).
    """
    from pyspark.sql import Observation

    wide = result.wide_verdicts()
    obs = Observation()
    observed = wide.observe(obs, *context_memo(
        _SHARED, "sink_counts", wide.sparkSession.sparkContext,
        lambda: [
            F.count(F.lit(1)).alias("docs"),
            # status=='failed', NOT ~validated: orphan docs
            # (status='ignored') also carry validated=False and must not
            # double-count as failures
            F.sum((F.col("status") == F.lit("failed")).cast("long")).alias(
                "failed_docs"
            ),
            F.sum((F.col("status") == F.lit("ignored")).cast("long")).alias(
                "ignored_docs"
            ),
            F.sum(F.size("violations").cast("long")).alias("violations"),
        ],
    ))
    writer = observed.write.mode("overwrite")
    if path is None:
        writer.format("noop").save()
    else:
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(fmt).save(path)
    m = obs.get
    return {
        k: int(m[k] or 0)
        for k in ("docs", "failed_docs", "ignored_docs", "violations")
    }


def _merged_steps_ddl(paths_steps: list[tuple[list, str | None]]) -> str:
    """DDL merging the shapes of several jPath step-lists that share their
    FIRST step (the column/field being padded).

    Padding from one path's shape alone breaks sibling paths — `a` padded
    as plain string leaves `a.b` unresolvable (code-review r3), and `a.b`
    padded as string leaves `a.b.c` unresolvable (advice r4) — so every
    shape merges into one nested struct; a path's explicit DDL hint
    (map-encoded objects) becomes that position's leaf type."""

    def new_node():
        return {"leaf": None, "children": {}}

    tree = new_node()
    root_is_arr = False
    for steps, hint in paths_steps:
        if steps[0][1] is not None:
            root_is_arr = True
        node = tree
        for name, idx in steps[1:]:
            child = node["children"].setdefault(name, [idx is not None, new_node()])
            child[0] = child[0] or idx is not None
            node = child[1]
        if hint:
            node["leaf"] = hint

    def render(node):
        if node["children"]:
            fields = ",".join(
                f"{name}:" + (f"array<{render(c[1])}>" if c[0] else render(c[1]))
                for name, c in sorted(node["children"].items())
            )
            return f"struct<{fields}>"
        return node["leaf"] or "string"

    t = render(tree)
    return f"array<{t}>" if root_is_arr else t


def _plan_steps_under(plan: ValidationPlan, root_name: str):
    """(steps, hint) for every parseable plan jPath rooted at ``root_name``."""
    from .functions.keys import _parse_jpath

    out = []
    for path, hint in (plan.jpaths or {}).items():
        try:
            steps = _parse_jpath(path)
        except ValueError:
            continue
        if steps[0][0] == root_name:
            out.append((steps, hint))
    return out


def align_to_plan(df: DataFrame, plan: ValidationPlan) -> DataFrame:
    """Schema-drift tolerance: every jPath the plan references must RESOLVE
    against ``df`` — the reference treats an absent property as "no value"
    (required fails, every other keyword is vacuous, keys contribute
    nothing, ``ValidableDoc.java:137-147``), while unpatched Spark would
    throw UNRESOLVED_COLUMN at analysis. Absent ROOT columns are padded as
    typed nulls matching the path shape (or the plan's DDL hint for
    map-encoded objects); absent depth-1 struct fields are padded via
    ``withField`` (arrays of structs via ``transform``). Each pad warns —
    drift is tolerated, never silent."""
    import warnings as _w

    from pyspark.sql import types as T

    from .functions.keys import _parse_jpath

    cols = set(df.columns)
    for path in sorted(plan.jpaths or {}):
        try:
            steps = _parse_jpath(path)
        except ValueError:
            continue
        root, _ridx = steps[0]
        if root not in cols:
            ddl = _merged_steps_ddl(_plan_steps_under(plan, root))
            _w.warn(
                f"document column {root!r} (for schema path {path!r}) is "
                f"absent from the table — treating as null ({plan.schema_id}; "
                "schema drift)"
            )
            df = df.withColumn(root, F.lit(None).cast(ddl))
            cols.add(root)
        elif len(steps) > 1:
            dt = df.schema[root].dataType
            name1, _idx1 = steps[1]
            # Merge the shapes of EVERY plan jPath through (root, name1) —
            # padding from this path alone would shadow a sibling's deeper
            # access ('a.b' pads b as string, then 'a.b.c' crashes).
            sibling = [
                (s[1:], h)
                for s, h in _plan_steps_under(plan, root)
                if len(s) > 1 and s[1][0] == name1
            ]
            field_ddl = _merged_steps_ddl(sibling)
            if isinstance(dt, T.StructType) and name1 not in dt.fieldNames():
                _w.warn(
                    f"struct field {root}.{name1} (for schema path {path!r}) "
                    f"is absent — treating as null ({plan.schema_id}; schema drift)"
                )
                df = df.withColumn(
                    root,
                    F.col(root).withField(name1, F.lit(None).cast(field_ddl)),
                )
            elif (
                isinstance(dt, T.ArrayType)
                and isinstance(dt.elementType, T.StructType)
                and name1 not in dt.elementType.fieldNames()
            ):
                _w.warn(
                    f"struct field {root}[].{name1} (for schema path {path!r}) "
                    f"is absent — treating as null ({plan.schema_id}; schema drift)"
                )

                def _pad(name: str, ddl: str):
                    return lambda x: x.withField(name, F.lit(None).cast(ddl))

                df = df.withColumn(
                    root, F.transform(F.col(root), _pad(name1, field_ddl))
                )
    return df


def validate_corpus(
    corpus: dict[str, tuple[ValidationPlan, DataFrame]],
    source_col: str = "source",
    ord_col: str = "ord",
    seed_registries: dict[tuple[str, str], DataFrame] | None = None,
    prior_registries: dict[tuple[str, str], DataFrame] | None = None,
) -> ValidationResult:
    """Validate a multi-schema corpus: ``{schema_id: (plan, df)}``.

    Each df must carry ``source_col`` (identity) and ``ord_col`` (deterministic
    total order ≙ directory-walk order — SURVEY §2.6).

    ``seed_registries``: pre-populated PK sets keyed by (schema_id, check_id)
    (A4, root README.md:25-35 — ``sources.catalog.seed_pk_registry``), unioned
    into the corpus-derived registries before FK probing.

    ``prior_registries``: frozen ``(key_str, first_source, first_ord)``
    holders keyed by (schema_id, check_id), ahead of every document here
    (module docstring). A document whose key a prior holder records under
    another identity is a ``dup_pk`` blamed on that holder, and
    ``pk_registries`` then holds only the keys this run adds. Prior holders
    take part in uniqueness only; a run whose FKs must also see them passes
    them as seeds too.

    The plans alone pick the physical shape (module docstring): the
    single-plan kernel when every plan has no join checks, at most one
    uniqueness constraint with flat members, and only flat-member FKs;
    otherwise the two-pass path.
    """
    # schema-drift alignment: plan-referenced paths must resolve (absent ⇒
    # typed null column ⇒ reference "property absent" semantics)
    corpus = {
        sid: (plan, align_to_plan(df, plan))
        for sid, (plan, df) in corpus.items()
    }
    if all(_kernel_fits(plan) for plan, _ in corpus.values()):
        return _validate_kernel(
            corpus, source_col, ord_col, seed_registries or {},
            prior_registries or {},
        )
    return _validate_two_pass(
        corpus, source_col, ord_col, seed_registries, prior_registries
    )


def _kernel_fits(plan: ValidationPlan) -> bool:
    """The plan's checks, uniqueness and FK probes fit one narrow stage:
    Column-only checks, ≤1 uniqueness constraint, one key per row."""
    return (
        not plan.join_checks
        and len(plan.uniques) <= 1
        and all(is_flat_members(u.members) for u in plan.uniques)
        and all(is_flat_members(fk.members) for fk in plan.fks)
    )


def _validate_two_pass(
    corpus: dict[str, tuple[ValidationPlan, DataFrame]],
    source_col: str = "source",
    ord_col: str = "ord",
    seed_registries: dict[tuple[str, str], DataFrame] | None = None,
    prior_registries: dict[tuple[str, str], DataFrame] | None = None,
) -> ValidationResult:
    """The general lifecycle: pass 1 per schema over persisted violation
    rows, then FK probes against counted, persisted registries. Serves join
    checks, several uniqueness constraints per schema and nested / fan-out
    keys (the cascade), and is the reference the kernel is tested against."""
    spark = next(iter(corpus.values()))[1].sparkSession
    empty_violations = spark.createDataFrame([], VIOLATION_SCHEMA)
    persisted: list = []  # released by ValidationResult.release()

    all_p1_violations: list[DataFrame] = []
    pk_registries: dict[tuple[str, str], DataFrame] = {}
    pk_empty: dict[tuple[str, str], bool] = {}
    pass2_docs: dict[str, DataFrame] = {}

    # ---------------- PASS 1: schema checks + uniqueness, per schema ----------
    for schema_id, (plan, df) in corpus.items():
        # persist: violation rows are output-sized and consumed by 3+ actions
        # (survivor mask, union, verdict join) — one evaluation, not four.
        schema_viol = apply_checks(
            df, plan.checks, plan.join_checks, schema_id, source_col, ord_col
        ).persist()
        persisted.append(schema_viol)
        if not plan.join_checks:
            # pass-1 mask as a pure predicate — no anti-join, no shuffle
            survivors = df.where(checks_pass_predicate(plan.checks))
        else:
            survivors = _anti_on_identity(df, schema_viol, source_col, ord_col)

        dup_violations: list[DataFrame] = [schema_viol]
        for uq in plan.uniques:
            res = uniqueness_check(
                survivors, uq.check_id, uq.members, schema_id, source_col, ord_col,
                prior=(prior_registries or {}).get((schema_id, uq.check_id)),
            )
            # cascade-path caches (fan-out keys) register on the run's
            # persisted list so release() drops them; the single-pass path
            # deliberately caches nothing (see _resolve_single_pass).
            # Emptiness (J3) is
            # evaluated lazily — only when some FK actually targets this
            # registry — so corpora without FKs never pay the extra job.
            persisted.extend(res.persisted)
            pk = res.pk
            seed = (seed_registries or {}).get((schema_id, uq.check_id))
            if seed is not None:
                pk = pk.unionByName(seed)  # SO2: seed ∪ corpus keys
            pk_registries[(schema_id, uq.check_id)] = pk
            dup_violations.append(res.violations)

        all_p1_violations.append(_union_all(dup_violations))
        # mask pass-1 failures out of pass 2 (schema failures AND dup
        # failures), null-safe: a failed null-source doc must not probe
        masked = survivors
        for d in dup_violations[1:]:
            masked = _anti_on_identity(masked, d, source_col, ord_col)
        pass2_docs[schema_id] = masked

    # seeds for registries with no corpus-side constraint (A4: the target
    # schema may have zero documents but externally provided keys)
    for skey, seed in (seed_registries or {}).items():
        if skey not in pk_registries:
            pk_registries[skey] = seed

    # ---------------- PASS 2: FK probes against completed registries ----------
    all_p2_violations: list[DataFrame] = []
    registered = set(corpus.keys()) | {s for (s, _) in (seed_registries or {})}
    for schema_id, (plan, _) in corpus.items():
        docs = pass2_docs[schema_id]
        for fk in plan.fks:
            key = (fk.target_schema_id, fk.target_check_id)
            if fk.target_schema_id not in registered:
                pk, empty, bcast = None, None, None
            elif key in pk_registries:
                pk = pk_registries[key]
                if key not in pk_empty:
                    # first FK touching this registry: persist it (it is
                    # re-read by every probe), settle emptiness (J3), and
                    # size-gate the broadcast hint — a huge registry must go
                    # through sort-merge/AQE, never a forced broadcast.
                    pk = pk.persist()
                    persisted.append(pk)
                    pk_registries[key] = pk
                    n = pk.count()
                    pk_empty[key] = (n == 0, n <= BROADCAST_MAX_PK_KEYS)
                empty, bcast = pk_empty[key]
                pk = pk_registries[key]
            else:
                # target schema registered but has no such constraint ⇒ no
                # recorded documents for it (J3, Validator.java:164-167)
                pk, empty, bcast = spark.createDataFrame(
                    [], "schema_id string, check_id string, key_str string, "
                        "first_source string, first_ord long"
                ), True, None
            all_p2_violations.append(
                fk_check(
                    docs, fk.check_id, fk.members, schema_id,
                    fk.target_schema_id, pk, source_col, ord_col,
                    broadcast_pk=bcast,
                    pk_known_empty=empty,
                )
            )

    # Persist the unioned violations: they are output-sized (violations ≪
    # corpus) and every downstream consumer (verdict join, counts, sinks)
    # would otherwise re-execute the full scan+shuffle pipeline per action.
    violations = _union_all(
        [empty_violations, *all_p1_violations, *all_p2_violations]
    ).persist()
    persisted.append(violations)

    # ---------------- verdicts -------------------------------------------------
    verdict_parts = []
    for schema_id, (_, df) in corpus.items():
        verdict_parts.append(
            df.select(
                F.col(source_col).alias("source"),
                F.col(ord_col).cast("long").alias("ord"),
                F.lit(schema_id).alias("schema_id"),
            )
        )
    all_docs = verdict_parts[0]
    for p in verdict_parts[1:]:
        all_docs = all_docs.unionByName(p)
    # null-safe identity join INCLUDING schema_id (code-review r4): a plain
    # equi join never matches a null source (doc fails yet reads validated),
    # and joining on (source, ord) alone lets one schema's violation flip a
    # doc of another schema that happens to share the identity pair
    failed = violations.select(
        F.col("source").alias("_fsrc"), F.col("ord").alias("_ford"),
        F.col("schema_id").alias("_fsid"),
    ).distinct().withColumn("_f", F.lit(True))
    verdicts = (
        all_docs.join(
            failed,
            all_docs["source"].eqNullSafe(failed["_fsrc"])
            & all_docs["ord"].eqNullSafe(failed["_ford"])
            & (all_docs["schema_id"] == failed["_fsid"]),
            "left",
        )
        .select(
            "source", "ord", "schema_id",
            F.coalesce(~F.col("_f"), F.lit(True)).alias("validated"),
        )
        .withColumn("status", F.when(F.col("validated"), "ok").otherwise("failed"))
    )
    return ValidationResult(
        verdicts=verdicts, violations=violations, pk_registries=pk_registries,
        _persisted=persisted,
    )


def _anti_on_identity(
    left: DataFrame, viol: DataFrame, source_col: str, ord_col: str
) -> DataFrame:
    """``left`` minus the documents named by ``viol``'s (source, ord),
    NULL-SAFE on both: plain equi-joins never match a null, so a failed
    null-source doc would stay a "survivor" and be probed in pass 2."""
    f = viol.select(
        F.col("source").alias("_asrc"), F.col("ord").alias("_aord")
    ).distinct()
    return left.join(
        f,
        left[source_col].eqNullSafe(f["_asrc"])
        & left[ord_col].cast("long").eqNullSafe(f["_aord"]),
        "left_anti",
    )


def validate_routed(
    df: DataFrame,
    plans: dict[str, ValidationPlan],
    schema_id_col: str = "schema_id",
    source_col: str = "source",
    ord_col: str = "ord",
    seed_registries: dict[tuple[str, str], DataFrame] | None = None,
) -> ValidationResult:
    """Route a heterogeneous corpus by its discriminator column and validate.

    Orphan documents (schema id not registered) appear BOTH as violation
    rows and as verdict rows with ``status='ignored'`` — the reference
    counts them in its run stats rather than dropping them
    (``FairGTrackValidatorCli.java:227-233``; skip semantics of
    ``ValidableDocUnmatchingSchemaException``, ``ValidatedJSONSchema.java:394-397``).
    On the kernel path they are appended to the wide relation too, so the
    observed sink writes it directly instead of regrouping violations.
    """
    from .sources.catalog import orphan_verdicts, route_corpus

    corpus, orphans = route_corpus(df, plans, schema_id_col)
    res = validate_corpus(corpus, source_col, ord_col, seed_registries)
    if res.wide is not None:
        return ValidationResult(
            pk_registries=lambda: res.pk_registries,
            wide=res.wide.unionByName(orphans.select(*context_memo(
                _SHARED, "orphan_wide", df.sparkSession.sparkContext,
                lambda: [
                    F.col("source"), F.col("ord"), F.col("schema_id"),
                    F.lit(False).alias("validated"),
                    F.lit("ignored").alias("status"),
                    F.array(
                        F.struct("check_id", "key_str", "reason", "description")
                    ).alias("violations"),
                ],
            ))),
        )
    # carry the inner run's caches so release() on the routed result works
    # (code-review r4 — dropping them leaked every persisted relation)
    return ValidationResult(
        verdicts=lambda: res.verdicts.unionByName(orphan_verdicts(orphans)),
        violations=lambda: res.violations.unionByName(
            orphans.select(*[c.split()[0] for c in VIOLATION_SCHEMA.split(", ")])
        ),
        pk_registries=lambda: res.pk_registries,
        _persisted=res._persisted,
    )


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


# the kernel stage's unfiltered (check_id, ok, message) entry array
_ENTRY_DDL = "array<struct<check_id:string,ok:boolean,message:string>>"


def _template(
    plan: ValidationPlan,
    schema_id: str,
    source_col: str,
    ord_col: str,
    with_prior: bool,
    fk_shape: tuple[str, ...],
    sc,
) -> "_KernelTemplate":
    """The plan's kernel template for one run shape, built on first use and
    kept on the plan (``_KernelTemplate``)."""
    return context_memo(
        plan._cache,
        ("kernel", schema_id, source_col, ord_col, with_prior, fk_shape),
        sc,
        lambda: _KernelTemplate(
            plan, schema_id, source_col, ord_col, with_prior, fk_shape
        ),
    )


def _fk_shape(
    plan: ValidationPlan, registry_keys: set, registered: set
) -> tuple[str, ...]:
    """Per FK of ``plan``: ``"no_schema"`` (J2, target schema not
    registered), ``"no_docs"`` (a registered target without that constraint
    records no keys, J3) or ``"probe"`` (join its target registry)."""
    return tuple(
        "no_schema" if fk.target_schema_id not in registered
        else "probe" if (fk.target_schema_id, fk.target_check_id) in registry_keys
        else "no_docs"
        for fk in plan.fks
    )


class _KernelTemplate:
    """Every Column one schema's kernel run reads, built once per compiled
    plan and run shape — schema id, identity columns, prior holders or not,
    and each FK's target shape (``_template``). A run only builds its
    DataFrames from them, so a repeated validation sends a few dozen
    commands to the JVM instead of rebuilding thousands of expressions.

    Stage columns (``stage``), one row per document:

    - ``source``, ``ord``: the identity;
    - ``_ok``: every row check passed;
    - ``_fails``: the unfiltered (check_id, ok, message) entry array, null
      for passing rows;
    - ``_key``: the uniqueness key string, gated by ``_ok`` — schema-failed
      docs never record keys (``ValidatedJSONSchema.java:360-392``) — null
      without a constraint, and null when a prior holder already records it
      for this very document;
    - ``_rn``: 1 for the first holder of its key (or a keyless row), 2 for
      every later one; ``_first_source``: the first holder's source;
    - ``_fk0`` … : each FK's key string, gated by ``_ok`` like ``_key``.
    """

    def __init__(
        self,
        plan: ValidationPlan,
        schema_id: str,
        source_col: str,
        ord_col: str,
        with_prior: bool,
        fk_shape: tuple[str, ...],
    ):
        from .operators.checks import check_entries

        all_ok = checks_pass_predicate(plan.checks)
        entries = check_entries(plan.checks)
        if entries:
            # UNFILTERED entry array (r6): F.filter is a CodegenFallback HOF,
            # so filtering here forced every check expression + message to
            # re-evaluate interpreted per failing row (draft7 violations:
            # 3.2 s noop vs 0.3 s for the verdicts that share the same
            # checks). Consumers drop passing entries after explode / on the
            # materialized array instead; passing entries carry null
            # messages (check_entries gates them), so the array stays
            # shuffle-light.
            fails = F.when(~all_ok, F.array(*entries))
        else:
            # PK-only plan: F.array() is array<void> and getField on it fails
            # at analysis — no row checks means no fails
            fails = F.lit(None).cast(_ENTRY_DDL)
        self.uq = uq = plan.uniques[0] if plan.uniques else None
        fk_names = [f"_fk{i}" for i in range(len(plan.fks))]
        src, ord_ = F.col(source_col), F.col(ord_col).cast("long")
        c = {n: F.col(n) for n in (
            "source", "ord", "_ok", "_fails", "_key", "_rn", "_first_source",
            *fk_names,
        )}
        checked = [all_ok.alias("_ok"), fails.alias("_fails")]
        fk_keys = [
            F.when(all_ok, flat_key_string(fk.members)).alias(name)
            for fk, name in zip(plan.fks, fk_names)
        ]
        if uq is None:
            self.narrow = [
                src.alias("source"), ord_.alias("ord"), *checked,
                F.lit(None).cast("string").alias("_key"),
                F.lit(1).alias("_rn"),
                F.lit(None).cast("string").alias("_first_source"),
                *fk_keys,
            ]
        else:
            # null-proof surrogate: F.concat null-propagates,
            # so a null source collapsed every no-key null-source row into
            # ONE null bucket — false dup_pk violations. The isNull flags
            # make the sentinel collision-free against real values.
            surrogate = F.concat_ws(
                "\x00",
                F.lit(""),
                src.isNull().cast("string"),
                F.coalesce(src, F.lit("")),
                ord_.isNull().cast("string"),
                F.coalesce(ord_.cast("string"), F.lit("")),
            )
            # Shape choices, both for the reduce stage's sort (the single
            # most expensive step of the pages plan at 40M rows):
            # - `_key` does not ride the shuffle: it equals `_k2` for keyed
            #   rows and is only ever read for them (surrogate rows are rank
            #   1 by construction), so it is re-derived after the window from
            #   the first byte (surrogates start with NUL, JSON key strings
            #   with '[') — ~1/3 less shuffle volume.
            # - the identity rides it once, as the ``_id`` struct the window
            #   ranks on (``FirstWriter``); source and ord are re-exposed
            #   from it above the window. Identical (ord, source) identities
            #   tie as rank 1.
            self.writer = writer = FirstWriter("_k2", with_prior, ord_, src)
            present, key = flat_key_parts(uq.members)
            checked_key = F.when(all_ok, F.when(present, key))
            self.narrow = [
                writer.identity.alias("_id"), *checked, *fk_keys,
                F.coalesce(checked_key, surrogate).alias("_k2"),
            ]
            # the key set filters on the checks and the members, and its
            # key column cannot be null, so neither its filter nor the
            # probe join's inferred not-null filter serializes the key again
            self.keyed = all_ok & present
            self.key_str = F.coalesce(key, F.lit("")).alias("key_str")
            k2 = F.col("_k2")
            self.ranked = [
                F.col("_id.s").alias("source"), F.col("_id.o").alias("ord"),
                c["_ok"], c["_fails"],
                F.when(
                    (F.substring(k2, 1, 1) != "\x00") & ~writer.held, k2
                ).alias("_key"),
                F.when(writer.later, F.lit(2)).otherwise(F.lit(1)).alias("_rn"),
                F.col("_mn.s").alias("_first_source"),
                *[c[n] for n in fk_names],
            ]
            self.recorded_where = (
                c["_ok"] & (c["_rn"] == 1) & c["_key"].isNotNull()
            )
            self.recorded_cols = [
                F.lit(schema_id).alias("schema_id"),
                F.lit(uq.check_id).alias("check_id"),
                c["_key"].alias("key_str"),
                c["source"].alias("first_source"),
                c["ord"].alias("first_ord"),
            ]

        # FK probes: only pass-2 documents (_ok and rank 1) probe, masked
        # like the reference; each entry is null when the document passes
        pass2 = c["_ok"] & (c["_rn"] == 1)
        self.probes = []  # (target registry key, hit column, join on, has)
        fk_entries = []
        for i, (fk, shape) in enumerate(zip(plan.fks, fk_shape)):
            key = F.col(f"_fk{i}")
            probe = pass2 & key.isNotNull()

            def entry(reason: str, fk=fk, key=key):
                return F.struct(*fk_violation(
                    reason, fk.check_id, fk.target_schema_id, key, c["source"]
                ))

            if shape != "probe":
                fk_entries.append(F.when(probe, entry(f"fk_{shape}")))
                continue
            hit, has = F.col(f"_hit{i}"), F.col(f"_has{i}")
            self.probes.append((
                (fk.target_schema_id, fk.target_check_id),
                F.col("key_str").alias(f"_hit{i}"),
                key == hit,
                (F.count(F.lit(1)) > 0).alias(f"_has{i}"),
            ))
            fk_entries.append(
                F.when(probe & ~has, entry("fk_no_docs"))
                .when(probe & hit.isNull(), entry("fk_missing"))
            )

        # outputs: projections of the probed stage
        fe = [F.col(f"_fe{i}") for i in range(len(fk_entries))]
        self.probed = [
            c["source"], c["ord"], c["_ok"], c["_fails"], c["_key"], c["_rn"],
            c["_first_source"],
            *[e.alias(f"_fe{i}") for i, e in enumerate(fk_entries)],
        ] if fk_entries else None
        validated = c["_ok"] & (c["_rn"] == 1)
        for e in fe:
            validated = validated & e.isNull()
        status = F.when(validated, "ok").otherwise("failed")
        # each document's violation entries, nested on its row: the kernel's
        # one output (`verdicts` and `violations` are projections of it)
        empty = F.array().cast(_WIDE_VIOLATION_DDL)
        schema_fail_entries = F.coalesce(
            F.transform(
                F.filter(c["_fails"], lambda e: ~e.getField("ok")),
                lambda e: F.struct(
                    e.getField("check_id").alias("check_id"),
                    F.lit(None).cast("string").alias("key_str"),
                    F.lit("schema").alias("reason"),
                    e.getField("message").alias("description"),
                ),
            ),
            empty,
        )
        nested = F.when(~c["_ok"], schema_fail_entries)
        if uq is not None:
            nested = nested.when(c["_rn"] > 1, F.array(F.struct(
                F.lit(uq.check_id).alias("check_id"),
                c["_key"].alias("key_str"),
                F.lit("dup_pk").alias("reason"),
                F.format_string(
                    "Duplicate PK in %s and %s", c["_first_source"], c["source"]
                ).alias("description"),
            )))
        fk_arrays = [F.when(e.isNotNull(), F.array(e)).otherwise(empty) for e in fe]
        nested = nested.otherwise(F.concat(*fk_arrays) if fk_arrays else empty)
        self.wide_cols = [
            c["source"], c["ord"], F.lit(schema_id).alias("schema_id"),
            validated.alias("validated"),
            status.alias("status"), nested.alias("violations"),
        ]

    def stage(self, df: DataFrame, prior: DataFrame | None = None) -> DataFrame:
        """One schema's share of the kernel: a single narrow projection and,
        with a uniqueness constraint, a single key-only window. ``prior``
        holders of the constraint ride that window
        (``operators.uniqueness.FirstWriter``).

        NOT persisted: caching a nested-array relation through the columnar
        cache is slower than recomputing, and Spark reuses the
        shuffle map outputs across actions on this lineage (skipped stages).
        """
        if self.uq is None:
            return df.select(*self.narrow)
        ranked = self.writer.rank(df.select(*self.narrow), prior)
        return ranked.select(*self.ranked)

    def recorded(self, stage: DataFrame) -> DataFrame:
        """The registry rows a stage records: keyed first holders that pass
        every check — shared by the kernel and the stream's micro-batches."""
        return stage.where(self.recorded_where).select(*self.recorded_cols)

    def probe_keys(self, df: DataFrame, prior: DataFrame | None = None) -> DataFrame:
        """The keys this schema's registry records, read without the window:
        every checked key (``_ok`` rows, key not null) of ``df`` less the
        keys ``prior`` holders hold. Not distinct.

        Their distinct set equals the distinct keys of ``recorded(stage)``.
        A row carries at most one flat key, and a key's rows compete in one
        window partition with no schema-failed row among them (those rank on
        their surrogate). Without a prior holder, the key's ``min(_id)`` row
        is rank 1 by construction, so the key is recorded. With one, the
        holder ranks first (``_id.p`` = 0): every row of the key is either
        held (``_key`` null) or later (rank 2), so the key is not recorded.
        Which rows tie or hold a key changes only ``first_source`` and
        ``first_ord``, never the key set, so a probe needs neither the
        identity nor the sort."""
        keys = df.where(self.keyed).select(self.key_str)
        if prior is None:
            return keys
        return keys.join(prior.select("key_str"), "key_str", "left_anti")

    def probe(self, stage: DataFrame, keys) -> DataFrame:
        """Join each probed FK's target key set (``keys(registry key)``, a
        distinct ``key_str`` relation) onto ``stage`` and bind one violation
        entry per FK (``_fe0`` …). J3 counts the same distinct relation, so
        its aggregate reads the probe's exchange instead of a scan of its
        own."""
        for rkey, hit, on, has in self.probes:
            dk = keys(rkey)
            stage = stage.join(dk.select(hit), on, "left").crossJoin(dk.agg(has))
        return stage if self.probed is None else stage.select(*self.probed)

    def wide(self, probed: DataFrame) -> DataFrame:
        return probed.select(*self.wide_cols)


def _validate_kernel(
    corpus: dict[str, tuple[ValidationPlan, DataFrame]],
    source_col: str,
    ord_col: str,
    seed_registries: dict[tuple[str, str], DataFrame],
    prior_registries: dict[tuple[str, str], DataFrame],
) -> ValidationResult:
    """Every schema's stage, registry and FK probes in ONE lazy plan.

    Registries (``pk_registries``) are each stage's recorded rows (``_ok``,
    rank 1, keyed) unioned with any seed; they keep the first holder's
    identity, which stream and checkpoint writes need. An FK probe needs
    only the keys: it left-joins the referencing stage against its target's
    probe key set — the target schema's checked keys less its prior
    holders' keys, plus any seed, made distinct — read without the
    first-writer window, and equal to the distinct keys of the registry
    (``_KernelTemplate.probe_keys``). The join consumes the fully
    aggregated key set, so every probe sees the complete registry (the
    reference's registry-before-probe order), and AQE chooses broadcast or
    shuffle from its runtime size. J3 (empty registry) is a ``count > 0``
    over the same distinct relation, so it reads the probe's exchange
    again; J2 (target schema not registered) and a target without that
    constraint are constants. The key set is built once per registry, so
    every FK that targets it shares one subtree. Only pass-2 documents
    (``_ok`` and rank 1) probe. Single schema, no FK, no seed: exactly one
    scan and one shuffle — the web-scale pages plan; a probed schema adds
    one more scan of its check and key columns and one key shuffle, which
    J3 reads again.

    Only ``wide`` is built here; verdicts, violations and the registries
    are built when first read.
    """
    registered = set(corpus) | {sid for sid, _ in seed_registries}
    rkeys = {
        sid: (sid, plan.uniques[0].check_id)
        for sid, (plan, _) in corpus.items() if plan.uniques
    }
    owner = {rkey: sid for sid, rkey in rkeys.items()}
    registry_keys = set(owner) | set(seed_registries)
    templates: dict[str, _KernelTemplate] = {}
    stages: dict[str, DataFrame] = {}
    for sid, (plan, df) in corpus.items():
        prior = prior_registries.get(rkeys.get(sid))
        tpl = templates[sid] = _template(
            plan, sid, source_col, ord_col, prior is not None,
            _fk_shape(plan, registry_keys, registered),
            df.sparkSession.sparkContext,
        )
        stages[sid] = tpl.stage(df, prior)

    def registry(rkey: tuple[str, str]) -> DataFrame:
        seed, sid = seed_registries.get(rkey), owner.get(rkey)
        if sid is None:
            return seed
        reg = templates[sid].recorded(stages[sid])
        return reg if seed is None else reg.unionByName(seed)

    key_sets: dict[tuple[str, str], DataFrame] = {}

    def key_set(rkey: tuple[str, str]) -> DataFrame:
        if rkey not in key_sets:
            seed, sid = seed_registries.get(rkey), owner.get(rkey)
            parts = [] if sid is None else [templates[sid].probe_keys(
                corpus[sid][1], prior_registries.get(rkey)
            )]
            if seed is not None:
                parts.append(seed.select("key_str"))
            key_sets[rkey] = _union_all(parts).distinct()
        return key_sets[rkey]

    return ValidationResult(
        pk_registries=lambda: {
            rkey: registry(rkey)
            for rkey in [*owner, *(k for k in seed_registries if k not in owner)]
        },
        wide=_union_all([
            tpl.wide(tpl.probe(stages[sid], key_set))
            for sid, tpl in templates.items()
        ]),
    )

