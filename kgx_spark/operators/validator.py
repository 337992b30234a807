"""Biolink validation battery ('kgx validate').

Reference: kgx/validator.py:26-745
- required node properties (validator.py:216-243: model-required slots +
  category) / edge properties (validator.py:246-273: model-required slots
  with 'id' force-appended — the executable battery in
  tests/unit/test_validator.py:30-38,94-105 pins {id, subject, predicate,
  object}: its all-of-those-present case passes with zero errors, so
  knowledge_level/agent_type are NOT required by the pinned model)
- property value TYPES per Biolink slot metadata (string/double/uriorcurie,
  multivalued-ness): 402-558
- value-shape checks: id is CURIE + prefix in JSON-LD context (560-585),
  categories are CURIE-stripped then CamelCase-checked bare and resolved
  against the model by sentence-case name (629-684), predicates are
  CURIE-stripped then snake_case-checked bare and resolved against the
  model (686-744)
- errors aggregated [level][error_type][message] → [entities]
  (kgx/error_detection.py:48-174)

Semantics are mirrored from the reference's own executable test battery
(tests/unit/test_validator.py) — bare 'NamedThing' categories and bare
'related_to' predicates are VALID (the reference strips any CURIE prefix
and validates the bare name against the model), and unknown categories /
predicates are ERRORs, not warnings. Message texts are the reference's
verbatim (including its f"{list}" → "<class 'list'>" rendering on the
node side vs plain 'list' on the edge side, and the node prefix message's
missing 'that').

Deliberate divergences (each pinned in tests/test_validator_reference_semantics.py):
- D-V1 presence: the reference checks `key not in data` per record; a
  DataFrame row's only absence representation is NULL, so NULL = missing
  (an empty list is PRESENT, matching the reference's data.get behavior).
- D-V2 uriorcurie values: the reference's type check
  (validator.py:437-441, `not isinstance(value, str) and not
  validators.url(value)`) accepts ANY string and flags ANY list — even a
  list of valid CURIEs — because validators.url receives the whole list.
  We validate per-element CURIE/URL shape instead of reproducing that bug.
- D-V3 aliases: the reference errors when a category/predicate is an alias
  of a model element (validator.py:676-684,731-744); the offline model
  snapshot carries no alias table, so the alias check is not performed.

Spark design: one select per input. Every rule is a
``when(cond, struct(entity, level, error_type, message))`` element of an
array (per-category rules map over the ``category`` array with
``F.transform``); the array is null-filtered and exploded once, so
validating a node or edge frame scans it exactly once, whatever the rule
count. Literal vocabularies (model classes, mixins, predicates, context
prefixes) are ``isin`` sets, which Catalyst plans as hash-set lookups. The
report is a groupBy collect_set. All Biolink knowledge
(known classes/predicates/mixins, slot types, context prefixes) comes from
the precomputed model snapshot in kgx_spark.functions.biolink — no runtime
bmt.Toolkit on executors (SURVEY.md §7.0). Type checks that the reference
performs per-value on Python dicts become schema checks (a DataFrame column
has ONE type) plus per-value shape checks for uriorcurie slots.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgx_spark.functions.biolink import (
    KNOWN_CLASSES,
    KNOWN_MIXINS,
    KNOWN_PREDICATES,
    SLOT_TYPES,
    context_prefixes,
)
from kgx_spark.functions.curie import CURIE_REGEX, curie_reference, is_curie
from kgx_spark.functions.text import sentence_case

# Back-compat alias: callers may pass their own snapshot.
KNOWN_CATEGORIES = KNOWN_CLASSES

REQUIRED_NODE_PROPERTIES = ("id", "category")  # validator.py:216-243
# validator.py:246-273 + the executable battery (see module docstring)
REQUIRED_EDGE_PROPERTIES = ("id", "subject", "predicate", "object")

_ERRORS_TYPE = (
    "array<struct<entity:string,level:string,error_type:string,message:string>>"
)

# The model release the offline snapshot was curated against — the same
# default the reference pins when no release is requested (validator.py:69).
SNAPSHOT_RELEASE = "v4.1.6"


def set_biolink_release(version: str | None) -> str:
    """Mirror ``Validator.set_biolink_model`` (reference validator.py:132-136):
    the release string goes to ``bmt.get_toolkit``, which raises on a
    non-SemVer or un-downloadable release — and the validate CLI maps ANY
    exception to exit code 2 (cli/__init__.py:201-208,
    test_cli_utils.py:414-431). This engine's model knowledge is a pinned
    offline snapshot, so the only *available* release is SNAPSHOT_RELEASE:
    a malformed SemVer raises (the reference's ``not.a.semver`` case), and a
    well-formed but different release raises too (the reference would try to
    fetch it; offline we fail loudly rather than validate against the wrong
    model)."""
    if version is None:
        return SNAPSHOT_RELEASE
    v = str(version).strip()
    if not re.fullmatch(r"v?\d+\.\d+\.\d+([.-][0-9A-Za-z.-]+)?", v):
        raise ValueError(f"invalid Biolink Model release (not SemVer): {version!r}")
    if v.lstrip("v") != SNAPSHOT_RELEASE.lstrip("v"):
        raise ValueError(
            f"Biolink Model release {version!r} is not available in the "
            f"offline model snapshot (pinned: {SNAPSHOT_RELEASE})"
        )
    return SNAPSHOT_RELEASE

# validator.py:664 — applied to the CURIE-stripped bare category
_CAMELCASE_RE = r"^([A-Z][a-z\d]+)+$"
# validator.py:725 — applied to the CURIE-stripped bare predicate
_SNAKECASE_PRED_RE = r"^([a-z_][^A-Z\s]+_?[a-z_][^A-Z\s]+)+$"

# Slots where the reference's own declarations disagree on multivalued-ness:
# column_types (kgx/utils/kgx_utils.py:50-56, drives its sanitizer) types
# knowledge_source `str`, while is_provenance_property_multivalued (:87-94,
# mirrored in SLOT_TYPES) says list. Reference-sanitized graphs therefore
# legitimately carry EITHER shape — the type battery accepts both instead of
# flagging scalars the reference's own pipeline produces (round-3 ADVICE).
_SCALAR_OR_LIST_SLOTS = frozenset({"knowledge_source"})


def _sentencecase_py(name: str) -> str:
    """Driver-side stringcase.sentencecase(s).lower() for the snapshot's
    CamelCase class/mixin names (no separators, so the kernel reduces to a
    space before every non-initial capital) — the normalization the
    reference applies to model names before is_category/is_mixin lookups."""
    return re.sub(r"(?<=.)([A-Z])", r" \1", name).strip().lower()


def _bare_names(curies) -> list[str]:
    return [c.split(":", 1)[1] if ":" in c else c for c in sorted(curies)]


def _rule(cond: Column, entity: Column, error_type: str, message) -> Column:
    """One rule: an error struct where ``cond`` holds, NULL elsewhere (the
    reference logs every battery error at level ERROR)."""
    msg = message if isinstance(message, Column) else F.lit(message)
    return F.when(cond, F.named_struct(
        F.lit("entity"), entity,
        F.lit("level"), F.lit("ERROR"),
        F.lit("error_type"), F.lit(error_type),
        F.lit("message"), msg,
    ))


def _prefix_in_context(col: str) -> Column:
    """CURIE prefix of column ``col`` is registered in the Biolink JSON-LD
    context. The ~200-literal IN list is parsed from one SQL string:
    building it from Column literals costs a JVM round trip per literal."""
    literals = ", ".join(
        "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for p in sorted(context_prefixes())
    )
    name = col.replace("`", "``")
    return F.expr(f"split_part(`{name}`, ':', 1) IN ({literals})")


def _errors(df: DataFrame, rules: list[Column]) -> DataFrame:
    """The errors DataFrame of ``rules`` (arrays of :func:`_rule` elements)
    over ``df`` in ONE select: the arrays are concatenated, the rules that
    did not fire (NULL) dropped, and the rest exploded once."""
    fired = F.concat(*rules) if rules else F.array()
    fired = F.filter(fired.cast(_ERRORS_TYPE), lambda e: e.isNotNull())
    return df.select(F.explode(fired).alias("_e")).select("_e.*")


#: Bare element names the reference resolves without a prefix: the model's
#: class and predicate names with the ``biolink:`` prefix stripped.
_BARE_ELEMENT_NAMES: frozenset[str] = frozenset(
    n.split(":", 1)[1] for n in KNOWN_CLASSES | KNOWN_PREDICATES
)


def _is_uri_or_curie(col: Column) -> Column:
    """uriorcurie shape: CURIE regex, an http(s) URL, or a bare Biolink
    element name (divergence D-V2 — the reference's per-slot typeof branch
    is dead code (SlotDefinition has no ``typeof``, validator.py:432), so it
    accepts ANY value; we keep the shape lint but must not flag values the
    reference's own integration suite requires to validate clean, e.g.
    ``category: ["Protein"]`` in tests/integration/test_validator.py:26-55)."""
    return (
        col.rlike(CURIE_REGEX)
        | col.startswith("http://")
        | col.startswith("https://")
        | col.isin(*_BARE_ELEMENT_NAMES)
    )


def _strip_prefix(col: Column) -> Column:
    """PrefixManager.get_reference when CURIE-shaped, else unchanged — the
    reference reassigns `category` / `edge_predicate` to the bare reference
    part before every shape/model check (validator.py:661-663,722-724)."""
    return F.when(is_curie(col), curie_reference(col)).otherwise(col)


def _node_entity(nodes: DataFrame) -> Column:
    """The node id — the reference's node log_error entity."""
    if "id" not in nodes.columns:
        return F.lit("<no id>")
    return F.coalesce(F.col("id").cast("string"), F.lit("<no id>"))


def _edge_entity(edges: DataFrame) -> Column:
    """f"{subject}->{object}" — the reference's edge log_error entity,
    including Python's 'None' rendering for a missing endpoint."""
    def side(name: str) -> Column:
        if name not in edges.columns:
            return F.lit("None")
        return F.coalesce(F.col(name).cast("string"), F.lit("None"))
    return F.concat(side("subject"), F.lit("->"), side("object"))


def _type_rules(df: DataFrame, kind: str) -> list[Column]:
    """Rules of :func:`validate_property_types`."""
    dtypes = dict(df.dtypes)
    rules: list[Column] = []
    if kind == "node":
        ent = _node_entity(df)
        error_type = "INVALID_NODE_PROPERTY_VALUE_TYPE"
        list_t, str_t = "<class 'list'>", "<class 'str'>"
        if "id" in df.columns and dtypes["id"] != "string":
            rules.append(_rule(
                F.col("id").isNotNull(), ent, error_type,
                "Node property 'id' is expected to be of type 'string'"))
    else:
        ent = _edge_entity(df)
        error_type = "INVALID_EDGE_PROPERTY_VALUE_TYPE"
        list_t, str_t = "list", "str"
        for endpoint in ("subject", "object"):
            if endpoint in df.columns and dtypes[endpoint] != "string":
                rules.append(_rule(
                    F.lit(True), ent, error_type,
                    f"'{endpoint}' of an edge is expected to be of type 'string'"))

    for col in df.columns:
        if col not in SLOT_TYPES or col in ("id", "subject", "object"):
            continue
        typeof, multivalued = SLOT_TYPES[col]
        is_array = dtypes[col].startswith("array")
        c = F.col(col)
        if col in _SCALAR_OR_LIST_SLOTS:
            # either shape is valid; fall through to the value checks below
            multivalued = is_array
        if multivalued and not is_array:
            rules.append(_rule(
                c.isNotNull(), ent, error_type,
                f"Multi-valued {kind} property '{col}' is expected to be of type '{list_t}'"))
            continue
        if not multivalued and is_array:
            rules.append(_rule(
                c.isNotNull(), ent, error_type,
                f"Single-valued {kind} property '{col}' is expected to be of type '{str_t}'"))
            continue
        if typeof == "string" and not is_array and dtypes[col] != "string":
            rules.append(_rule(
                c.isNotNull(), ent, error_type,
                f"{kind.capitalize()} property '{col}' is expected to be of type 'string'"))
        elif typeof == "double" and not is_array:
            rules.append(_rule(
                c.isNotNull() & c.try_cast("double").isNull(), ent, error_type,
                f"{kind.capitalize()} property '{col}' is expected to be of type 'double'"))
        elif typeof == "uriorcurie" and dtypes[col] in ("string", "array<string>"):
            if is_array:
                bad = F.exists(c, lambda x: ~_is_uri_or_curie(x))
            else:
                bad = c.isNotNull() & ~_is_uri_or_curie(c)
            rules.append(_rule(
                bad, ent, error_type,
                f"{kind.capitalize()} property '{col}' is expected to be of type 'uri' or 'CURIE'"))
    return [F.array(*rules)] if rules else []


def validate_property_types(df: DataFrame, kind: str = "node") -> DataFrame:
    """The type battery (validator.py:402-558), Spark-shaped.

    - id (nodes) and subject/object (edges) columns must be strings
      (validator.py:425-427,484-494);
    - for every other column matching a known Biolink slot: multivalued
      slots must be array columns; single-valued must not be (the reference
      checks isinstance(value, list) per record — here the column type
      decides, and a mismatch errors every non-null row);
    - `string` slots must be string-typed; `double` slots must hold numeric
      values (non-castable strings error);
    - `uriorcurie` slots must hold CURIE- or URL-shaped values (per element
      for arrays — divergence D-V2).

    Message-text note: the reference renders the node-side multivalued /
    single-valued messages with f"{list}" / f"{str}" ("<class 'list'>") and
    the edge-side ones with plain 'list' / 'str' (validator.py:452,457 vs
    543,552) — both reproduced verbatim.
    """
    return _errors(df, _type_rules(df, kind))


def _category_rules(
    nodes: DataFrame, known_categories: frozenset[str], known_mixins: frozenset[str]
) -> list[Column]:
    """Rules of :func:`validate_categories`; the per-element checks map over
    the category array."""
    ent = _node_entity(nodes)
    error_type = "INVALID_CATEGORY"
    missing = "Node does not have a 'category' property"

    if "category" not in nodes.columns:
        return [F.array(_rule(F.lit(True), ent, error_type, missing))]
    cat = F.col("category")
    rules = [_rule(cat.isNull(), ent, error_type, missing)]
    if not dict(nodes.dtypes)["category"].startswith("array"):
        rules.append(_rule(
            cat.isNotNull(), ent, error_type,
            f"Node property 'category' is expected to be of type {list}"))
        return [F.array(*rules)]

    classes = [_sentencecase_py(n) for n in _bare_names(known_categories)]
    mixins = [_sentencecase_py(n) for n in _bare_names(known_mixins)]
    bare = F.transform(
        F.transform(F.coalesce(cat, F.array()), _strip_prefix),
        lambda b: F.struct(b.alias("bare"), sentence_case(b).alias("sc")),
    )

    def element_rules(e: Column) -> Column:
        b, sc = e["bare"], e["sc"]
        is_mixin = sc.isin(*mixins)

        def msg(tail: str) -> Column:
            return F.concat(F.lit("Category '"), b, F.lit(tail))

        return F.array(
            _rule(~b.rlike(_CAMELCASE_RE), ent, error_type,
                  msg("' is not in CamelCase form")),
            _rule(is_mixin, ent, error_type, msg("' is a mixin in the Biolink Model")),
            _rule(~is_mixin & ~sc.isin(*classes), ent, error_type,
                  msg("' is unknown in the current Biolink Model")),
        )

    return [F.array(*rules), F.flatten(F.transform(bare, element_rules))]


def validate_categories(
    nodes: DataFrame,
    known_categories: frozenset[str] = KNOWN_CLASSES,
    known_mixins: frozenset[str] = KNOWN_MIXINS,
) -> DataFrame:
    """``category`` battery, reference-exact (validator.py:629-684):

    - no category → "Node does not have a 'category' property";
    - category not a list → type message (the f"{list}" rendering);
    - per element: strip any CURIE prefix, CamelCase-check the bare name
      (a failed CamelCase check does NOT suppress the model checks — the
      reference keeps going), then mixin-vs-class resolution by
      sentence-case name (if mixin → error; elif not a class → error).

    Bare 'NamedThing' is valid; bare lowercase 'gene' draws only the
    CamelCase error (its sentence-case form resolves to the Gene class) —
    both pinned by the reference battery (tests/unit/test_validator.py:447-484).
    """
    return _errors(nodes, _category_rules(nodes, known_categories, known_mixins))


def _predicate_rules(edges: DataFrame, known_predicates: frozenset[str]) -> list[Column]:
    """Rules of :func:`validate_edge_predicates`."""
    ent = _edge_entity(edges)
    error_type = "INVALID_EDGE_PREDICATE"
    missing = "Edge does not have an 'predicate' property"

    if "predicate" not in edges.columns:
        return [F.array(_rule(F.lit(True), ent, error_type, missing))]
    pred = F.col("predicate")
    rules = [_rule(pred.isNull(), ent, error_type, missing)]
    if dict(edges.dtypes)["predicate"] != "string":
        rules.append(_rule(
            pred.isNotNull(), ent, error_type,
            "Edge property 'edge_predicate' is expected to be of type 'string'"))
        return [F.array(*rules)]

    bare = _strip_prefix(pred)
    snake_ok = bare.rlike(_SNAKECASE_PRED_RE)
    present = pred.isNotNull()
    rules += [
        _rule(present & ~snake_ok, ent, error_type,
              F.concat(F.lit("Edge predicate '"), bare, F.lit("' is not in snake_case form"))),
        _rule(present & snake_ok & ~bare.isin(*_bare_names(known_predicates)), ent, error_type,
              F.concat(F.lit("Edge predicate '"), bare, F.lit("' is not in Biolink Model"))),
    ]
    return [F.array(*rules)]


def validate_edge_predicates(
    edges: DataFrame, known_predicates: frozenset[str] = KNOWN_PREDICATES
) -> DataFrame:
    """``predicate`` battery, reference-exact (validator.py:686-744): strip
    any CURIE prefix, snake_case-check the bare name
    (``^([a-z_][^A-Z\\s]+_?[a-z_][^A-Z\\s]+)+$``), resolve survivors against
    the model's predicates — bare 'related_to' is valid, unknown predicates
    are ERRORs (tests/unit/test_validator.py:487-543)."""
    return _errors(edges, _predicate_rules(edges, known_predicates))


def _required_rules(
    df: DataFrame, required: tuple[str, ...], kind: str, ent: Column
) -> list[Column]:
    """Presence checks (divergence D-V1: NULL = absent; an empty list is
    present, as it is for the reference's `p not in data`); whole-column
    absence errors every record."""
    error_type = f"MISSING_{kind.upper()}_PROPERTY"
    return [
        _rule(F.col(prop).isNull() if prop in df.columns else F.lit(True), ent, error_type,
              f"Required {kind} property '{prop}' is missing")
        for prop in required
    ]


def validate_node_records(
    nodes: DataFrame,
    known_categories: frozenset[str] = KNOWN_CLASSES,
    check_types: bool = False,
    check_prefixes: bool = False,
) -> DataFrame:
    """→ errors DataFrame; empty when the graph is valid."""
    ent = _node_entity(nodes)
    rules = _required_rules(nodes, REQUIRED_NODE_PROPERTIES, "node", ent)

    # id must be a CURIE (validator.py:570-585)
    if "id" in nodes.columns and dict(nodes.dtypes)["id"] == "string":
        node_id = F.col("id")
        rules.append(_rule(
            node_id.isNotNull() & ~node_id.rlike(CURIE_REGEX),
            ent, "INVALID_NODE_PROPERTY_VALUE",
            "Node property 'id' is expected to be of type 'CURIE'"))
        if check_prefixes:
            # CURIE prefix must be registered in the Biolink JSON-LD context
            # (validator.py:577-584); the message is the reference's verbatim
            # (note its missing 'that').
            prefix = F.split_part(node_id, F.lit(":"), F.lit(1))
            rules.append(_rule(
                node_id.isNotNull() & node_id.rlike(CURIE_REGEX) & ~_prefix_in_context("id"),
                ent, "INVALID_NODE_PROPERTY_VALUE",
                F.concat(F.lit("Node property 'id' has a value '"), node_id,
                         F.lit("' with a CURIE prefix '"), prefix,
                         F.lit("' is not represented in Biolink Model JSON-LD context"))))

    arrays = [F.array(*rules), *_category_rules(nodes, known_categories, KNOWN_MIXINS)]
    if check_types:
        arrays += _type_rules(nodes, "node")
    return _errors(nodes, arrays)


def validate_edge_records(
    edges: DataFrame,
    known_predicates: frozenset[str] = KNOWN_PREDICATES,
    check_types: bool = False,
    check_prefixes: bool = False,
) -> DataFrame:
    """→ errors DataFrame; empty when the graph is valid."""
    ent = _edge_entity(edges)
    dtypes = dict(edges.dtypes)
    rules = _required_rules(edges, REQUIRED_EDGE_PROPERTIES, "edge", ent)

    # subject/object CURIE-ness + prefix-vs-context (validator.py:586-627)
    for prop in ("subject", "object"):
        if prop not in edges.columns or dtypes[prop] != "string":
            continue
        c = F.col(prop)
        rules.append(_rule(
            c.isNotNull() & ~c.rlike(CURIE_REGEX),
            ent, "INVALID_EDGE_PROPERTY_VALUE",
            F.concat(F.lit(f"Edge property '{prop}' has a value '"), c,
                     F.lit("' which is not a proper CURIE"))))
        if check_prefixes:
            prefix = F.split_part(c, F.lit(":"), F.lit(1))
            rules.append(_rule(
                c.isNotNull() & c.rlike(CURIE_REGEX) & ~_prefix_in_context(prop),
                ent, "INVALID_EDGE_PROPERTY_VALUE",
                F.concat(F.lit(f"Edge property '{prop}' has a value '"), c,
                         F.lit("' with a CURIE prefix '"), prefix,
                         F.lit("' that is not represented in Biolink Model JSON-LD context"))))

    arrays = [F.array(*rules), *_predicate_rules(edges, known_predicates)]
    if check_types:
        arrays += _type_rules(edges, "edge")
    return _errors(edges, arrays)


def error_report(errors: DataFrame) -> DataFrame:
    """[level][error_type][message] → sorted entity list
    (kgx/error_detection.py:130-174 aggregation shape)."""
    return errors.groupBy("level", "error_type", "message").agg(
        F.array_sort(F.collect_set("entity")).alias("entities"),
        F.count("*").alias("count"),
    )


def report_dict(errors: DataFrame) -> dict:
    """Driver-side nested report: [level][error_type][message] → sorted
    entities — the exact JSON shape the reference's ErrorDetecting.get_errors
    / write_report emits (kgx/error_detection.py:48-174)."""
    out: dict = {}
    for r in error_report(errors).collect():
        out.setdefault(r["level"], {}).setdefault(r["error_type"], {})[r["message"]] = list(r["entities"])
    return out
