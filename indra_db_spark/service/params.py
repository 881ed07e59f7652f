"""Web-parameter → Query folding, simple-JSON compilation, guardrails and
permission shaping (reference: indra_db_service/call_handlers.py:472-602
_db_query_from_web_query; agent@NS parsing indra_db_service/util.py:33-54;
censoring call_handlers.py:168-174; caps indra_db_service/config.py:27-28).
"""

from __future__ import annotations

import json
from typing import Optional

from indra_db_spark.plans.queries import (
    EmptyQuery,
    FromMeshIds,
    FromPapers,
    HasAgent,
    HasHash,
    HasNumAgents,
    HasNumEvidence,
    HasOnlySource,
    HasType,
    Query,
    build_intersection,
    build_union,
)
from indra_db_spark.plans.shaping import MAX_STMTS  # single source of truth
from indra_db_spark.plans.shaping import EvidenceFilter

#: service caps (indra_db_service/config.py:27-28, call_handlers.py:190-210)
MAX_LIST_LEN = 2000


class WebQueryError(ValueError):
    pass


def _check_list(name: str, values) -> list:
    values = list(values)
    if len(values) > MAX_LIST_LEN:
        raise WebQueryError(
            f"{name}: list too long ({len(values)} > {MAX_LIST_LEN})"
        )
    return values


def parse_agent_spec(spec: str) -> tuple[str, str]:
    """'MEK@FPLX' -> (MEK, FPLX); bare ids default to NAME (the reference
    defaults to AUTO + gilda grounding, indra_db_service/util.py:33-54)."""
    if "@" in spec:
        agent, ns = spec.rsplit("@", 1)
        return agent, ns.upper()
    return spec, "NAME"


def query_from_web_params(params: dict) -> tuple[Query, Optional[EvidenceFilter]]:
    """Fold REST-style parameters into (hash query, evidence filter)
    (call_handlers.py:472-602).

    Recognized keys: ``agent`` (list or str), ``subject``, ``object``,
    ``agent0``..``agentN``, ``type`` (list), ``hashes``, ``paper_ids``
    (``pmid:123`` style), ``mesh_ids``, ``num_agents``, ``num_evidence``.
    """
    query: Query = EmptyQuery()
    ev_filters: list[EvidenceFilter] = []

    def fold(q: Query) -> None:
        nonlocal query
        query = query & q if not isinstance(query, EmptyQuery) else q

    agents = params.get("agent", [])
    if isinstance(agents, str):
        agents = [agents]
    for spec in _check_list("agent", agents):
        ag, ns = parse_agent_spec(spec)
        fold(HasAgent(ag, namespace=ns))
    for role in ("subject", "object"):
        if params.get(role):
            ag, ns = parse_agent_spec(params[role])
            fold(HasAgent(ag, namespace=ns, role=role.upper()))
    i = 0
    while f"agent{i}" in params:
        ag, ns = parse_agent_spec(params[f"agent{i}"])
        fold(HasAgent(ag, namespace=ns, agent_num=i))
        i += 1

    types = params.get("type", [])
    if isinstance(types, str):
        types = [types]
    if types:
        fold(HasType(_check_list("type", types)))

    if params.get("hashes"):
        hashes = params["hashes"]
        if isinstance(hashes, str):
            hashes = hashes.split(",")
        fold(HasHash([int(h) for h in _check_list("hashes", hashes)]))

    def _int_list(key: str) -> list[int]:
        vals = params[key]
        if isinstance(vals, (str, int)):
            vals = str(vals).split(",")
        return [int(n) for n in _check_list(key, vals)]

    if params.get("num_agents"):
        fold(HasNumAgents(_int_list("num_agents")))
    if params.get("num_evidence"):
        fold(HasNumEvidence(_int_list("num_evidence")))

    if params.get("paper_ids"):
        paper_ids = params["paper_ids"]
        if isinstance(paper_ids, str):
            paper_ids = paper_ids.split(",")
        papers = []
        for p in _check_list("paper_ids", paper_ids):
            id_type, _, id_val = p.partition(":")
            if not id_val:
                raise WebQueryError(f"paper id needs 'type:id' form: {p!r}")
            papers.append((id_type.lower(), id_val))
        fold(FromPapers(papers))
        ev_filters.append(EvidenceFilter.from_papers(papers))

    if params.get("mesh_ids"):
        mesh_ids = params["mesh_ids"]
        if isinstance(mesh_ids, str):
            mesh_ids = mesh_ids.split(",")
        mesh = _check_list("mesh_ids", mesh_ids)
        fold(FromMeshIds(mesh))
        ev_filters.append(EvidenceFilter.from_mesh_ids(mesh))

    if isinstance(query, EmptyQuery):
        raise WebQueryError("no constraints given")

    ev_filter = None
    if ev_filters:
        ev_filter = (
            ev_filters[0]
            if len(ev_filters) == 1
            else EvidenceFilter.from_filters(*ev_filters)
        )
    return query, ev_filter


def apply_medscan_censor(query: Query, has_medscan: bool) -> Query:
    """Permission rewrite: unauthenticated callers never see medscan-only
    statements (call_handlers.py:168-174)."""
    if has_medscan:
        return query
    return query & ~HasOnlySource("medscan")


def query_from_simple_json(d: dict) -> Query:
    """Compile the simplified And/Or/Not JSON dialect through the same
    constructor normalizations (reference Query.from_simple_json,
    query.py:880-908)."""
    if not isinstance(d, dict):
        raise WebQueryError(f"expected object, got {type(d).__name__}")
    for op in ("and", "or"):
        if op in d and not isinstance(d[op], list):
            raise WebQueryError(f"{op!r} needs a list, got {type(d[op]).__name__}")
    if "and" in d:
        return build_intersection([query_from_simple_json(c) for c in d["and"]])
    if "or" in d:
        return build_union([query_from_simple_json(c) for c in d["or"]])
    if "not" in d:
        return ~query_from_simple_json(d["not"])
    cls = d.get("class")
    if not cls:
        raise WebQueryError(f"leaf needs a 'class' key: {d}")
    constraint = {k: v for k, v in d.items() if k != "class"}
    return Query.from_json({"class": cls, "constraint": constraint})


def compile_query(d: dict, fmt: str = "json"):
    """The /compile conformance endpoint: round-trip a query JSON to its
    normalized form without executing (api.py:527-539)."""
    q = (
        query_from_simple_json(d)
        if {"and", "or", "not"} & d.keys() or "constraint" not in d
        else Query.from_json(d)
    )
    if fmt == "json":
        return q.to_json()
    if fmt == "string":
        return json.dumps(q.to_json(), sort_keys=True)
    raise WebQueryError(f"unknown compile format {fmt!r}")
