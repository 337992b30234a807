"""Summary / meta-KG / validator aggregations (SURVEY.md §2.6)."""

import pyspark.sql.functions as F
import pytest

from kgx_spark.operators.meta_kg import meta_edge_stats, meta_knowledge_graph, meta_node_stats
from kgx_spark.operators.summary import (
    count_by_category,
    count_by_id_prefix,
    count_by_predicate,
    count_by_spo_category,
    dangling_edges,
    duplicate_nodes,
    summarize_graph,
)
from kgx_spark.operators.validator import (
    error_report,
    validate_edge_records,
    validate_node_records,
)


@pytest.fixture()
def graph(spark):
    nodes = spark.createDataFrame(
        [
            ("HGNC:1", ["biolink:Gene"]),
            ("HGNC:2", ["biolink:Gene", "biolink:NamedThing"]),
            ("MONDO:1", ["biolink:Disease"]),
        ],
        "id string, category array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("HGNC:1", "biolink:related_to", "MONDO:1"),
            ("HGNC:2", "biolink:related_to", "MONDO:1"),
            ("HGNC:1", "biolink:interacts_with", "HGNC:2"),
            ("HGNC:1", "biolink:related_to", "GHOST:1"),  # dangling
        ],
        "subject string, predicate string, object string",
    )
    return nodes, edges


def test_count_by_category(spark, graph):
    nodes, _ = graph
    counts = {r["category"]: r["count"] for r in count_by_category(nodes).collect()}
    assert counts == {"biolink:Gene": 2, "biolink:NamedThing": 1, "biolink:Disease": 1}


def test_count_by_id_prefix(spark, graph):
    nodes, _ = graph
    rows = {(r["category"], r["prefix"]): r["count"] for r in count_by_id_prefix(nodes).collect()}
    assert rows[("biolink:Gene", "HGNC")] == 2
    assert rows[("biolink:Disease", "MONDO")] == 1


def test_count_by_predicate(spark, graph):
    _, edges = graph
    counts = {r["predicate"]: r["count"] for r in count_by_predicate(edges).collect()}
    assert counts == {"biolink:related_to": 3, "biolink:interacts_with": 1}


def test_count_by_spo_category(spark, graph):
    nodes, edges = graph
    rows = {
        (r["subject_category"], r["predicate"], r["object_category"]): r["count"]
        for r in count_by_spo_category(edges, nodes).collect()
    }
    assert rows[("biolink:Gene", "biolink:related_to", "biolink:Disease")] == 2
    # multivalued category on HGNC:2 → counted under both categories
    assert rows[("biolink:Gene", "biolink:interacts_with", "biolink:Gene")] == 1
    assert rows[("biolink:Gene", "biolink:interacts_with", "biolink:NamedThing")] == 1
    # dangling edge has no object category → absent
    assert not any(k[2] is None for k in rows)


def test_duplicates_and_dangling(spark, graph):
    nodes, edges = graph
    dup = nodes.unionByName(nodes.limit(1))
    assert duplicate_nodes(dup).count() == 1
    d = dangling_edges(edges, nodes).collect()
    assert len(d) == 1 and d[0]["object"] == "GHOST:1"


def test_summarize_graph_rollup(spark, graph):
    nodes, edges = graph
    s = summarize_graph(nodes, edges)
    assert s["node_stats"]["total_nodes"] == 3
    assert s["edge_stats"]["total_edges"] == 4
    # reference YAML shape: counts nest as {"count": N} (summarize_graph.py)
    assert s["edge_stats"]["count_by_predicates"]["biolink:related_to"] == {"count": 3}
    assert s["edge_stats"]["count_by_predicates"]["unknown"] == {"count": 0}


def test_meta_node_stats(spark, graph):
    nodes, _ = graph
    rows = {r["category"]: r for r in meta_node_stats(nodes).collect()}
    assert rows["biolink:Gene"]["id_prefixes"] == ["HGNC"]
    assert rows["biolink:Gene"]["count"] == 2


def test_meta_edge_stats_excludes_invalid_predicate(spark, graph):
    nodes, edges = graph
    bad = spark.createDataFrame(
        [("HGNC:1", "NOT_A_PREDICATE", "MONDO:1")], "subject string, predicate string, object string"
    )
    rows = meta_edge_stats(edges.unionByName(bad), nodes).collect()
    preds = {r["predicate"] for r in rows}
    assert "NOT_A_PREDICATE" not in preds


def test_validator(spark):
    nodes = spark.createDataFrame(
        [
            ("HGNC:1", ["biolink:Gene"]),           # valid
            ("not a curie", ["biolink:Gene"]),      # invalid id
            ("HGNC:3", ["gene"]),                   # invalid category form
            ("HGNC:4", ["biolink:MadeUpThing"]),    # unknown category → error
        ],
        "id string, category array<string>",
    )
    errs = validate_node_records(nodes)
    by_msg = {r["message"]: r for r in error_report(errs).collect()}
    assert by_msg["Node property 'id' is expected to be of type 'CURIE'"][
        "entities"] == ["not a curie"]
    assert by_msg["Category 'gene' is not in CamelCase form"]["entities"] == ["HGNC:3"]
    unknown = by_msg["Category 'MadeUpThing' is unknown in the current Biolink Model"]
    assert unknown["entities"] == ["HGNC:4"] and unknown["level"] == "ERROR"

    edges = spark.createDataFrame(
        [
            ("HGNC:1", "biolink:related_to", "HGNC:2"),
            ("HGNC:1", "biolink:RelatedTo", "HGNC:2"),  # bad predicate form
        ],
        "subject string, predicate string, object string",
    )
    erep = {r["error_type"] for r in error_report(validate_edge_records(edges)).collect()}
    assert "INVALID_EDGE_PREDICATE" in erep


def test_knowledge_source_accepts_scalar_and_list(spark):
    """The reference's own declarations disagree on knowledge_source
    (column_types: str, drives its sanitizer; is_provenance_property_multivalued:
    True) — so reference-sanitized graphs carry either shape and the type
    battery must flag NEITHER (round-3 ADVICE). Other slots keep strict
    shape checks."""
    from kgx_spark.operators.validator import validate_property_types

    scalar = spark.createDataFrame(
        [("HGNC:1", "biolink:related_to", "HGNC:2", "infores:x")],
        "subject string, predicate string, object string, knowledge_source string",
    )
    listy = spark.createDataFrame(
        [("HGNC:1", "biolink:related_to", "HGNC:2", ["infores:x"])],
        "subject string, predicate string, object string, knowledge_source array<string>",
    )
    assert validate_property_types(scalar, "edge").count() == 0
    assert validate_property_types(listy, "edge").count() == 0
    # strictness preserved elsewhere: scalar primary_knowledge_source ok,
    # array form still errors (declared single-valued everywhere)
    bad = spark.createDataFrame(
        [("HGNC:1", "biolink:related_to", "HGNC:2", ["infores:x"])],
        "subject string, predicate string, object string, primary_knowledge_source array<string>",
    )
    msgs = [r["message"] for r in validate_property_types(bad, "edge").collect()]
    assert any("expected to be of type 'str'" in m for m in msgs)


# ---------------------------------------------------------------------------
# One scan per graph side: the validator is one select per input, and the
# summary / meta-KG each finish in a fixed handful of Spark jobs.


def _combined_nodes(spark):
    return spark.createDataFrame(
        [
            ("HGNC:1", None, "infores:a", "12.5"),                 # null category
            ("HGNC:2", [], "infores:a", None),                     # empty category: present
            ("HGNC:3", ["NamedThing"], None, "7"),                 # bare NamedThing: valid
            ("HGNC:4", ["biolink:ActivityAndBehavior"], "infores:b", None),  # mixin
            ("HGNC:5", ["gene"], None, "abc"),                     # lowercase; not a double
            ("FOO:6", ["biolink:Gene"], None, None),               # unknown prefix
            ("not a curie", ["biolink:Gene", "biolink:MadeUpThing"], None, None),
            (None, ["biolink:Gene"], None, None),                  # missing id
        ],
        # provided_by is multivalued in the model: a scalar column mismatches
        "id string, category array<string>, provided_by string, has_percentage string",
    )


def _combined_edges(spark):
    # no 'id' column: a whole-column-absent required property
    return spark.createDataFrame(
        [
            ("HGNC:1", "biolink:related_to", "HGNC:2", None),
            ("not a curie", "biolink:related_to", "HGNC:2", None),     # non-CURIE subject
            ("HGNC:1", "biolink:interacts_with", "BAR:9", None),       # unknown-prefix object
            ("HGNC:1", "biolink:RelatedTo", "HGNC:3", ["infores:x"]),  # not snake_case
            ("HGNC:1", "biolink:frobnicates", "HGNC:3", None),         # unknown predicate
            ("HGNC:1", None, "HGNC:3", None),                          # missing predicate
            (None, "related_to", "HGNC:3", None),                      # missing subject
        ],
        # primary_knowledge_source is single-valued: an array column mismatches
        "subject string, predicate string, object string, primary_knowledge_source array<string>",
    )


_ALL_EDGES = ("HGNC:1->BAR:9", "HGNC:1->HGNC:2", "HGNC:1->HGNC:3", "None->HGNC:3",
              "not a curie->HGNC:2")

# (level, error_type, message, entities, count) of the combined battery with
# check_types=True and check_prefixes=True
PINNED_REPORT = sorted([
    ("ERROR", "INVALID_CATEGORY",
     "Category 'ActivityAndBehavior' is a mixin in the Biolink Model", ("HGNC:4",), 1),
    ("ERROR", "INVALID_CATEGORY",
     "Category 'MadeUpThing' is unknown in the current Biolink Model", ("not a curie",), 1),
    ("ERROR", "INVALID_CATEGORY", "Category 'gene' is not in CamelCase form", ("HGNC:5",), 1),
    ("ERROR", "INVALID_CATEGORY", "Node does not have a 'category' property", ("HGNC:1",), 1),
    ("ERROR", "INVALID_EDGE_PREDICATE",
     "Edge does not have an 'predicate' property", ("HGNC:1->HGNC:3",), 1),
    ("ERROR", "INVALID_EDGE_PREDICATE",
     "Edge predicate 'RelatedTo' is not in snake_case form", ("HGNC:1->HGNC:3",), 1),
    ("ERROR", "INVALID_EDGE_PREDICATE",
     "Edge predicate 'frobnicates' is not in Biolink Model", ("HGNC:1->HGNC:3",), 1),
    ("ERROR", "INVALID_EDGE_PROPERTY_VALUE",
     "Edge property 'object' has a value 'BAR:9' with a CURIE prefix 'BAR' that is not "
     "represented in Biolink Model JSON-LD context", ("HGNC:1->BAR:9",), 1),
    ("ERROR", "INVALID_EDGE_PROPERTY_VALUE",
     "Edge property 'subject' has a value 'not a curie' which is not a proper CURIE",
     ("not a curie->HGNC:2",), 1),
    ("ERROR", "INVALID_EDGE_PROPERTY_VALUE_TYPE",
     "Single-valued edge property 'primary_knowledge_source' is expected to be of type 'str'",
     ("HGNC:1->HGNC:3",), 1),
    ("ERROR", "INVALID_NODE_PROPERTY_VALUE",
     "Node property 'id' has a value 'FOO:6' with a CURIE prefix 'FOO' is not represented in "
     "Biolink Model JSON-LD context", ("FOO:6",), 1),
    ("ERROR", "INVALID_NODE_PROPERTY_VALUE",
     "Node property 'id' is expected to be of type 'CURIE'", ("not a curie",), 1),
    ("ERROR", "INVALID_NODE_PROPERTY_VALUE_TYPE",
     "Multi-valued node property 'provided_by' is expected to be of type '<class 'list'>'",
     ("HGNC:1", "HGNC:2", "HGNC:4"), 3),
    ("ERROR", "INVALID_NODE_PROPERTY_VALUE_TYPE",
     "Node property 'category' is expected to be of type 'uri' or 'CURIE'", ("HGNC:5",), 1),
    ("ERROR", "INVALID_NODE_PROPERTY_VALUE_TYPE",
     "Node property 'has_percentage' is expected to be of type 'double'", ("HGNC:5",), 1),
    ("ERROR", "MISSING_EDGE_PROPERTY", "Required edge property 'id' is missing", _ALL_EDGES, 7),
    ("ERROR", "MISSING_EDGE_PROPERTY",
     "Required edge property 'predicate' is missing", ("HGNC:1->HGNC:3",), 1),
    ("ERROR", "MISSING_EDGE_PROPERTY",
     "Required edge property 'subject' is missing", ("None->HGNC:3",), 1),
    ("ERROR", "MISSING_NODE_PROPERTY",
     "Required node property 'category' is missing", ("HGNC:1",), 1),
    ("ERROR", "MISSING_NODE_PROPERTY", "Required node property 'id' is missing", ("<no id>",), 1),
])


def _report(errors) -> list[tuple]:
    return sorted(
        (r["level"], r["error_type"], r["message"], tuple(r["entities"]), r["count"])
        for r in error_report(errors).collect()
    )


@pytest.mark.parametrize("check_types", [False, True])
def test_combined_rules_pinned_report(spark, check_types):
    """Records drawing several errors at once, across every battery: the
    report is pinned; without the type battery it loses exactly the
    *_VALUE_TYPE entries."""
    errors = validate_node_records(
        _combined_nodes(spark), check_types=check_types, check_prefixes=True
    ).unionByName(
        validate_edge_records(_combined_edges(spark), check_types=check_types, check_prefixes=True)
    )
    expected = [r for r in PINNED_REPORT if check_types or not r[1].endswith("_VALUE_TYPE")]
    assert _report(errors) == expected


def _leaves(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


@pytest.mark.parametrize("check_types", [False, True])
def test_validator_scans_each_side_once(spark, tmp_path, check_types):
    """Every rule of a side lives in ONE select: the physical plan has a
    single scan leaf per input, however many rules fire."""
    _combined_nodes(spark).write.parquet(str(tmp_path / "n"))
    _combined_edges(spark).write.parquet(str(tmp_path / "e"))
    nodes = spark.read.parquet(str(tmp_path / "n"))
    edges = spark.read.parquet(str(tmp_path / "e"))
    for errors in (
        validate_node_records(nodes, check_types=check_types, check_prefixes=True),
        validate_edge_records(edges, check_types=check_types, check_prefixes=True),
    ):
        leaves = _leaves(errors)
        assert len(leaves) == 1 and leaves[0].startswith("Scan parquet"), leaves


def _stats_nodes(spark):
    return spark.createDataFrame(
        [
            ("A:1", ["biolink:Gene"], ["s1"]),
            ("A:1", ["biolink:Gene"], ["s1"]),                      # exact duplicate
            ("A:2", ["biolink:Gene", "biolink:NamedThing"], ["s1", "s2"]),
            ("B:1", None, None),                                    # uncategorized
            ("B:2", [], ["s2"]),
            ("C:1", ["biolink:Disease"], []),
            ("C:2", ["not_a_category"], ["s3"]),                    # fails the meta-KG shape
        ],
        "id string, category array<string>, provided_by array<string>",
    )


def _stats_edges(spark):
    return spark.createDataFrame(
        [
            ("A:1", "biolink:related_to", "C:1", ["e1"], "ks1", "RO:1"),
            ("A:2", "biolink:interacts_with", "A:1", ["e1", "e2"], None, None),
            ("A:1", "biolink:related_to", "GHOST:1", None, "ks2", "RO:2"),  # dangling
            ("B:1", "biolink:related_to", "C:1", [], "ks1", None),
            ("A:2", None, "C:1", ["e3"], None, None),                       # no predicate
            ("C:2", "NOT_A_PREDICATE", "A:2", ["e1"], "ks3", "RO:3"),
        ],
        "subject string, predicate string, object string, provided_by array<string>, "
        "knowledge_source string, relation string",
    )


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` ran: the DAG scheduler's job-id delta, counting
    only jobs of a job group set around the call (jobs other sessions'
    threads submit meanwhile belong to no such group)."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    group = f"job-budget-{dag.nextJobId()}"
    sc.setJobGroup(group, group)
    try:
        before = dag.nextJobId()
        fn()
        after = dag.nextJobId()
    finally:
        sc._jsc.clearJobGroup()
    return sum(before <= j < after for j in sc.statusTracker().getJobIdsForGroup(group))


def test_summary_and_meta_kg_job_budget(spark):
    """One aggregate per graph side, collected in one action. They run in 6
    and 8 jobs here; the budgets leave one job of slack, and a
    per-statistic collect or count added back costs at least two (its map
    stage and its result)."""
    nodes, edges = _stats_nodes(spark), _stats_edges(spark)
    facets = {"node_facet_properties": ["provided_by"], "edge_facet_properties": ["provided_by"]}
    assert _jobs(spark, lambda: summarize_graph(nodes, edges, **facets)) <= 7
    assert _jobs(spark, lambda: meta_knowledge_graph(nodes, edges, **facets)) <= 9


def _c(n: int, **facets: dict) -> dict:
    """A summary count entry: {'count': n} plus {facet: {value: {'count': k}}}."""
    return {"count": n, **{f: {v: {"count": k} for v, k in vals.items()} for f, vals in facets.items()}}


def test_summary_edge_cases_pinned(spark):
    """Duplicate node ids (the s-p-o join counts both records, the edge and
    predicate totals do not), null / empty categories and facets, a
    dangling edge and a null predicate — pinned."""
    s = summarize_graph(
        _stats_nodes(spark), _stats_edges(spark), name="g",
        node_facet_properties=["provided_by"],
        edge_facet_properties=["provided_by", "knowledge_source"],
    )
    assert s["node_stats"] == {
        "total_nodes": 7,
        "node_categories": ["biolink:Disease", "biolink:Gene", "biolink:NamedThing", "not_a_category"],
        "count_by_category": {
            "unknown": _c(2, provided_by={"s2": 1, "unknown": 1}),
            "biolink:Disease": _c(1, provided_by={"unknown": 1}),
            "biolink:Gene": _c(3, provided_by={"s1": 3, "s2": 1}),
            "biolink:NamedThing": _c(1, provided_by={"s1": 1, "s2": 1}),
            "not_a_category": _c(1, provided_by={"s3": 1}),
        },
        "provided_by": ["s1", "s2", "s3", "unknown"],
    }
    assert s["edge_stats"] == {
        "total_edges": 6,
        "predicates": ["NOT_A_PREDICATE", "biolink:interacts_with", "biolink:related_to"],
        "count_by_predicates": {
            "unknown": _c(1, provided_by={"e3": 2}, knowledge_source={"unknown": 2}),
            "NOT_A_PREDICATE": _c(1, provided_by={"e1": 2}, knowledge_source={"ks3": 2}),
            "biolink:interacts_with": _c(
                1, provided_by={"e1": 4, "e2": 4}, knowledge_source={"unknown": 4}),
            "biolink:related_to": _c(
                3, provided_by={"e1": 2, "unknown": 3}, knowledge_source={"ks1": 3, "ks2": 2}),
        },
        "count_by_spo": {
            "biolink:Gene-biolink:interacts_with-biolink:Gene": _c(
                2, provided_by={"e1": 2, "e2": 2}, knowledge_source={"unknown": 2}),
            "biolink:Gene-biolink:related_to-biolink:Disease": _c(
                2, provided_by={"e1": 2}, knowledge_source={"ks1": 2}),
            "biolink:Gene-biolink:related_to-unknown": _c(
                2, provided_by={"unknown": 2}, knowledge_source={"ks2": 2}),
            "biolink:Gene-unknown-biolink:Disease": _c(
                1, provided_by={"e3": 1}, knowledge_source={"unknown": 1}),
            "biolink:NamedThing-biolink:interacts_with-biolink:Gene": _c(
                2, provided_by={"e1": 2, "e2": 2}, knowledge_source={"unknown": 2}),
            "biolink:NamedThing-unknown-biolink:Disease": _c(
                1, provided_by={"e3": 1}, knowledge_source={"unknown": 1}),
            "not_a_category-NOT_A_PREDICATE-biolink:Gene": _c(
                1, provided_by={"e1": 1}, knowledge_source={"ks3": 1}),
            "not_a_category-NOT_A_PREDICATE-biolink:NamedThing": _c(
                1, provided_by={"e1": 1}, knowledge_source={"ks3": 1}),
            "unknown-biolink:related_to-biolink:Disease": _c(
                1, provided_by={"unknown": 1}, knowledge_source={"ks1": 1}),
        },
        "provided_by": ["e1", "e2", "e3", "unknown"],
        "knowledge_source": ["ks1", "ks2", "ks3", "unknown"],
    }


def test_meta_kg_edge_cases_pinned(spark):
    """Duplicates analysed once, invalid categories/predicates excluded,
    dangling and uncategorized endpoints dropped, null facet values not
    counted — pinned."""
    m = meta_knowledge_graph(
        _stats_nodes(spark), _stats_edges(spark), name="g",
        node_facet_properties=["provided_by"],
        edge_facet_properties=["provided_by", "knowledge_source"],
    )
    assert m["name"] == "g"
    assert m["nodes"] == {
        "biolink:Disease": {
            "id_prefixes": ["C"], "count": 1, "count_by_source": {"provided_by": {}}},
        "biolink:Gene": {
            "id_prefixes": ["A"], "count": 2, "count_by_source": {"provided_by": {"s1": 2, "s2": 1}}},
        "biolink:NamedThing": {
            "id_prefixes": ["A"], "count": 1, "count_by_source": {"provided_by": {"s1": 1, "s2": 1}}},
    }
    interacts = {"provided_by": {"e1": 1, "e2": 1}, "knowledge_source": {}}
    assert sorted(m["edges"], key=lambda e: (e["subject"], e["predicate"], e["object"])) == [
        {"subject": "biolink:Gene", "predicate": "biolink:interacts_with", "object": "biolink:Gene",
         "relations": [], "count_by_source": interacts, "count": 1},
        {"subject": "biolink:Gene", "predicate": "biolink:related_to", "object": "biolink:Disease",
         "relations": ["RO:1"],
         "count_by_source": {"provided_by": {"e1": 1}, "knowledge_source": {"ks1": 1}},
         "count": 1},
        {"subject": "biolink:NamedThing", "predicate": "biolink:interacts_with",
         "object": "biolink:Gene", "relations": [], "count_by_source": interacts, "count": 1},
    ]
