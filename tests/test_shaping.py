"""Result-shaping tests over the fixture lake: paging, evidence limits,
metadata joins, interaction grains, evidence filters (the reference's
per-operator tests, test_query.py:571-791)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from indra_db_spark.plans import HasAgent, HasDatabases, HasType
from indra_db_spark.plans.fixtures import build_tables, generate_model
from indra_db_spark.plans.shaping import (
    EvidenceFilter,
    get_agents,
    get_hashes,
    get_interactions,
    get_relations,
    get_statements,
)
from indra_db_spark.schemas import TYPE_NUMS


@pytest.fixture(scope="module")
def fx(spark):
    from indra_db_spark.plans.lake import ReadonlyLake

    stmts, papers = generate_model(seed=42)
    tables = build_tables(stmts, papers)
    return ReadonlyLake.from_rows(spark, tables), stmts


def test_get_hashes_sorted_and_paged(fx):
    lake, stmts = fx
    q = HasAgent("ERK")
    rows = get_hashes(q, lake, limit=5).collect()
    assert len(rows) == 5
    evs = [r.ev_count for r in rows]
    assert evs == sorted(evs, reverse=True)
    # offset pages are disjoint and contiguous
    page2 = get_hashes(q, lake, limit=5, offset=5).collect()
    assert {r.mk_hash for r in rows}.isdisjoint({r.mk_hash for r in page2})
    all_rows = get_hashes(q, lake, sort_by="belief").collect()
    beliefs = [r.belief for r in all_rows]
    assert beliefs == sorted(beliefs, reverse=True)


def test_get_statements_assembles_evidence(fx):
    lake, stmts = fx
    res = get_statements(HasAgent("ERK"), lake, limit=3, ev_limit=4)
    assert len(res.statements) == 3
    by_hash = {s.mk_hash: s for s in stmts}
    for h, stmt in res.statements.items():
        model = by_hash[h]
        assert len(stmt["evidence"]) == min(4, model.ev_count)
        for ev in stmt["evidence"]:
            assert ev["annotations"]["source_api"] in model.src_counts
        # reader evidence carries text refs
        reader_evs = [e for e in stmt["evidence"] if "PMID" in e["text_refs"]]
        if model.has_rd and len(stmt["evidence"]) == model.ev_count:
            assert reader_evs
        assert res.source_counts[h] == model.src_counts


def test_get_statements_ev_limit_zero(fx):
    lake, _ = fx
    res = get_statements(HasAgent("ERK"), lake, limit=2, ev_limit=0)
    assert res.statements and all(
        s["evidence"] == [] for s in res.statements.values()
    )


def test_get_statements_ev_limit_negative_rejected(fx):
    lake, _ = fx
    with pytest.raises(ValueError, match="ev_limit"):
        get_statements(HasAgent("ERK"), lake, limit=2, ev_limit=-1)


def test_evidence_filter_source(fx):
    lake, stmts = fx
    f = EvidenceFilter.has_source(["reach"])
    res = get_statements(HasAgent("ERK"), lake, limit=5, ev_limit=1000, evidence_filter=f)
    by_hash = {s.mk_hash: s for s in stmts}
    for h, stmt in res.statements.items():
        model = by_hash[h]
        expect = model.src_counts.get("reach", 0)
        assert len(stmt["evidence"]) == expect
        assert all(
            e["annotations"]["source_api"] == "reach" for e in stmt["evidence"]
        )


def test_evidence_filter_or_composition(fx):
    lake, stmts = fx
    f = EvidenceFilter.has_source(["pc"]) | EvidenceFilter.has_source(["signor"])
    res = get_statements(HasDatabases(), lake, limit=5, ev_limit=1000, evidence_filter=f)
    by_hash = {s.mk_hash: s for s in stmts}
    for h, stmt in res.statements.items():
        model = by_hash[h]
        expect = model.src_counts.get("pc", 0) + model.src_counts.get("signor", 0)
        assert len(stmt["evidence"]) == expect


def test_get_interactions_excludes_complex_dups(fx):
    lake, stmts = fx
    q = HasType(["Complex"])
    rows = get_interactions(q, lake).collect()
    n_complex = sum(1 for s in stmts if s.stmt_type == "Complex")
    assert len(rows) == n_complex  # one base row per complex, no dups
    with_dups = get_interactions(q, lake, with_complex_dups=True).collect()
    assert len(with_dups) == n_complex * 3  # base + 2 ordered pairs


def test_get_relations_grain(fx):
    lake, stmts = fx
    rows = get_relations(HasAgent("ERK"), lake).collect()
    # every (agents, type, activity-state) combination appears exactly once
    keys = [
        (tuple(sorted(r.agent_json.items())), r.type_num, r.activity, r.is_active)
        for r in rows
    ]
    assert len(keys) == len(set(keys))
    by_hash = {s.mk_hash: s for s in stmts}
    for r in rows:
        assert r.ev_count == sum(by_hash[h].ev_count for h in r.hashes)


def test_get_agents_complexes_covered_paging(fx):
    lake, stmts = fx
    q = HasType(["Complex"])
    _, covered = get_agents(q, lake)
    complex_hashes = {s.mk_hash for s in stmts if s.stmt_type == "Complex"}
    assert covered == complex_hashes
    # a second page fed the covered set drops the dup rows of those hashes:
    # each complex then contributes only its base row
    df2, _ = get_agents(q, lake, complexes_covered=covered)
    n_rows = df2.select(F.size("hashes").alias("n")).collect()
    assert sum(r.n for r in n_rows) == len(complex_hashes)


def test_empty_evidence_filter_is_noop(spark):
    from indra_db_spark.plans.shaping import EvidenceFilter

    ev = spark.createDataFrame([(1,), (2,)], ["id"])
    for f in (EvidenceFilter.from_filters(), EvidenceFilter("or", children=[])):
        out = f.apply(None, ev)
        assert {r.id for r in out.collect()} == {1, 2}


def test_evidence_filter_or_with_vacuous_child_is_true(fx):
    lake, stmts = fx
    # OR(empty-AND, has_source([...])): the vacuously-true disjunct makes the
    # whole OR true — every evidence row survives, not just the source hits
    f = EvidenceFilter("or", children=[
        EvidenceFilter.from_filters(),
        EvidenceFilter.has_source(["reach"]),
    ])
    res = get_statements(HasAgent("ERK"), lake, limit=5, ev_limit=1000,
                         evidence_filter=f)
    by_hash = {s.mk_hash: s for s in stmts}
    for h, stmt in res.statements.items():
        assert len(stmt["evidence"]) == by_hash[h].ev_count


def test_get_agents_harvest_is_bounded_and_unpersistable(fx):
    from indra_db_spark.plans.shaping import _covered_complex_hashes

    lake, stmts = fx
    q = HasType(["Complex", "Phosphorylation"])
    df, covered = get_agents(q, lake)
    # the driver-side harvest pulls exactly the distinct Complex hashes —
    # O(complex rows), not O(result x array width)
    harvested = _covered_complex_hashes(df).collect()
    complex_hashes = {s.mk_hash for s in stmts if s.stmt_type == "Complex"}
    assert len(harvested) == len(complex_hashes)
    assert covered == complex_hashes
    # the result comes back persisted (harvest + caller action share one
    # execution); callers can release it
    assert df.storageLevel.useMemory
    df.unpersist()
    assert not df.storageLevel.useMemory


def test_get_agents_json_is_one_collect_of_get_agents_page(fx, spark):
    """The REST agents page comes from ONE collect: the same JSON bytes
    toJSON writes over get_agents' page (with and without an extra
    column riding the rows), the same covered-complex harvest, and one
    job fewer than get_agents plus a toJSON pass over its frame."""
    from indra_db_spark.functions.english import meta_english_expr
    from indra_db_spark.plans.shaping import get_agents_json

    lake, stmts = fx
    q = HasType(["Complex", "Phosphorylation"])
    covered0 = {s.mk_hash for s in stmts if s.stmt_type == "Complex"}
    english = meta_english_expr(F.col("agent_json")).alias("english")
    tracker = spark.sparkContext.statusTracker()

    def jobs(group, fn):
        spark.sparkContext.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    for extra, covered_in in (([], None), ([english], set(list(covered0)[:2]))):
        def two_passes():
            df, covered = get_agents(q, lake, 7, covered_in)
            for col in extra:
                df = df.withColumn("english", col)
            return df.toJSON().collect(), covered

        (want, want_cov), n_want = jobs(f"agents-df-{len(extra)}", two_passes)
        (got, got_cov), n_got = jobs(
            f"agents-json-{len(extra)}",
            lambda: get_agents_json(q, lake, 7, covered_in, extra),
        )
        assert got == want and len(got) == 7
        assert got_cov == want_cov
        assert n_got == n_want - 1
