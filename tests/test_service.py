"""Service-layer tests: web-param folding, simple-JSON compilation,
/compile conformance, censoring, raw search and curation operators."""

from __future__ import annotations

import pytest

from indra_db_spark.plans.fixtures import (
    build_principal_tables,
    fixture_lake,
    generate_model,
)
from indra_db_spark.plans.principal import (
    curation_counts,
    curations_for,
    raw_statement_search,
)
from indra_db_spark.plans.queries import (
    HasAgent,
    HasHash,
    HasOnlySource,
    HasType,
    Intersection,
    Query,
    Union,
)
from indra_db_spark.schemas import PRINCIPAL_SCHEMAS
from indra_db_spark.service import (
    apply_medscan_censor,
    compile_query,
    query_from_simple_json,
    query_from_web_params,
)
from indra_db_spark.service.params import WebQueryError


def test_web_params_fold_to_intersection():
    q, ev = query_from_web_params(
        {"agent": ["MEK@FPLX"], "type": ["Phosphorylation"]}
    )
    assert isinstance(q, Intersection)
    kinds = {type(c).__name__ for c in q.queries}
    assert kinds == {"HasAgent", "HasType"}
    assert ev is None


def test_web_params_roles_and_papers():
    q, ev = query_from_web_params(
        {
            "subject": "MEK",
            "object": "ERK",
            "paper_ids": ["pmid:70001", "pmcid:PMC9002"],
        }
    )
    agents = [c for c in q.queries if isinstance(c, HasAgent)]
    assert {a.role for a in agents} == {"SUBJECT", "OBJECT"}
    assert ev is not None


def test_web_params_bare_string_ids():
    # a bare string for paper_ids/mesh_ids is one id (or comma-joined ids),
    # never iterated character-by-character
    q, ev = query_from_web_params({"paper_ids": "pmid:70001"})
    assert type(q).__name__ == "FromPapers"
    assert q.paper_list == [("pmid", "70001")]
    assert ev is not None

    q2, _ = query_from_web_params({"mesh_ids": "D000225,D012345"})
    assert type(q2).__name__ == "FromMeshIds"
    assert q2.mesh_ids == ["D000225", "D012345"]


def test_web_params_guardrails():
    with pytest.raises(WebQueryError):
        query_from_web_params({})
    with pytest.raises(WebQueryError):
        query_from_web_params({"agent": [f"A{i}" for i in range(2001)]})


def test_medscan_censor():
    q = HasType(["Activation"])
    censored = apply_medscan_censor(q, has_medscan=False)
    assert isinstance(censored, Intersection)
    assert any(
        isinstance(c, HasOnlySource) and c.inverted for c in censored.queries
    )
    assert apply_medscan_censor(q, has_medscan=True) is q


def test_simple_json_round_trip():
    q = query_from_simple_json(
        {
            "or": [
                {"class": "HasType", "stmt_types": ["Activation"]},
                {
                    "and": [
                        {"class": "HasAgent", "agent_id": "ERK"},
                        {"not": {"class": "HasHash", "stmt_hashes": [5]}},
                    ]
                },
            ]
        }
    )
    assert isinstance(q, Union)
    assert Query.from_json(q.to_json()) == q


def test_compile_endpoint_normalizes():
    # A & A collapses; compile returns the normalized form
    out = compile_query(
        {
            "and": [
                {"class": "HasType", "stmt_types": ["Activation"]},
                {"class": "HasType", "stmt_types": ["Activation"]},
            ]
        }
    )
    assert out["class"] == "HasType"
    assert compile_query(out) == out  # fixpoint


# ------------------------------------------------------- principal clients


@pytest.fixture(scope="module")
def principal(spark):
    stmts, papers = generate_model(seed=42)
    rows = build_principal_tables(stmts, papers, seed=42)
    dfs = {
        name: spark.createDataFrame(r, PRINCIPAL_SCHEMAS[name])
        for name, r in rows.items()
    }
    return dfs, stmts


def test_raw_statement_search(principal):
    dfs, stmts = principal
    got = raw_statement_search(
        dfs["raw_statements"],
        dfs["raw_agents"],
        agents=[("SUBJECT", "MEK", "NAME"), ("OBJECT", "ERK", "NAME")],
        stmt_type="Phosphorylation",
    )
    want_sids = {
        ev.sid
        for s in stmts
        if s.stmt_type == "Phosphorylation"
        and [a["NAME"] for a in s.agents] == ["MEK", "ERK"]
        for ev in s.evidences
    }
    assert {r.sid for r in got.collect()} == want_sids
    assert want_sids  # non-vacuous


def test_raw_search_escapes_like(principal):
    dfs, _ = principal
    # '%' must not act as a wildcard unless opted in
    got = raw_statement_search(
        dfs["raw_statements"], dfs["raw_agents"], agents=[(None, "%", None)]
    )
    assert got.count() == 0
    wild = raw_statement_search(
        dfs["raw_statements"],
        dfs["raw_agents"],
        agents=[(None, "ME%", "NAME")],
        allow_wildcards=True,
    )
    assert wild.count() > 0


def test_curation_ops(principal):
    dfs, stmts = principal
    counts = {
        r.pa_hash: r.curation_count
        for r in curation_counts(dfs["curation"]).collect()
    }
    want: dict = {}
    for r in dfs["curation"].collect():
        want[r.pa_hash] = want.get(r.pa_hash, 0) + 1
    assert counts == want and counts

    anon = curations_for(dfs["curation"], tag="correct").collect()
    assert anon
    # md5[:16] anonymization, the reference's exact masking (api.py:636-639)
    assert all(len(r.curator) == 16 for r in anon)
    assert all("@" not in r.curator for r in anon)
    clear = curations_for(dfs["curation"], tag="correct", anonymize=False).collect()
    assert {r.curator for r in clear} <= {f"user{i}@example.org" for i in range(3)}


def test_curation_store_round_trip(spark, principal, tmp_path):
    """POST-curation -> counts visible through the read clients, invalid
    hash refused, parquet log survives a reopen (submit_curation contract,
    client/principal/curation.py:17-82)."""
    import pytest as _pytest

    from indra_db_spark.plans.principal import BadHashError, CurationStore

    dfs, stmts = principal
    pa = dfs.get("pa_statements")
    if pa is None:
        from indra_db_spark.schemas import PRINCIPAL_SCHEMAS
        _rows = []
    store = CurationStore(spark, str(tmp_path / "curation_log"))
    target = stmts[0].mk_hash
    cid = store.submit(target, "correct", "alice@example.org", "10.0.0.1",
                       text="looks right", source="DB REST API")
    cid2 = store.submit(target, "grounding", "bob@example.org", "10.0.0.2")
    assert (cid, cid2) == (1, 2)

    counts = {r.pa_hash: r.curation_count
              for r in curation_counts(store.df()).collect()}
    assert counts == {target: 2}

    # invalid hash refused when validated against pa_statements
    pa_df = spark.createDataFrame(
        [{"mk_hash": target, "json": b'{"type": "T", "agents": []}'}],
        "mk_hash long, json binary",
    )
    with _pytest.raises(BadHashError):
        store.submit(999, "correct", "eve@example.org", "::1",
                     pa_statements=pa_df)
    # valid hash pulls pa_json from the statement table
    store.submit(target, "polarity", "carol@example.org", "::1",
                 pa_statements=pa_df)
    got = store.df().filter("tag = 'polarity'").collect()
    assert got and bytes(got[0].pa_json) == b'{"type": "T", "agents": []}'

    # a fresh store over the same log sees the persisted rows and continues ids
    store2 = CurationStore(spark, str(tmp_path / "curation_log"))
    assert store2.df().count() == 3
    assert store2.submit(target, "correct", "dan@example.org", "::1") == 4


def test_fixture_lake_still_builds(spark):
    lake, stmts, _ = fixture_lake(spark)
    assert lake["source_meta"].count() == len(stmts)


def test_auto_grounding_service(spark):
    from indra_db_spark.plans.queries import HasAgent

    lake, stmts, _ = fixture_lake(spark)
    try:
        HasAgent.grounding_service = staticmethod(
            lambda text: ("FPLX", "ERK") if text.lower() == "erk protein" else None
        )
        grounded = HasAgent("erk protein", namespace="AUTO")
        want = {
            s.mk_hash
            for s in stmts
            if any(a.get("FPLX") == "ERK" for a in s.agents)
        }
        got = {r.mk_hash for r in grounded.hashes(lake).collect()}
        assert got == want and got
        # ungrounded AUTO text falls back to NAME matching
        fallback = HasAgent("MEK", namespace="AUTO")
        got2 = {r.mk_hash for r in fallback.hashes(lake).collect()}
        want2 = {s.mk_hash for s in stmts if any(a["NAME"] == "MEK" for a in s.agents)}
        assert got2 == want2
    finally:
        HasAgent.grounding_service = None


def test_redaction():
    from indra_db_spark.service.redaction import (
        REDACT_CHARS,
        REDACT_MARKER,
        redact_evidence_text,
    )

    long_text = "x" * 500
    stmts = {
        1: {
            "evidence": [
                {"text": long_text, "text_refs": {"SOURCE": "elsevier"}},
                {"text": long_text, "text_refs": {"SOURCE": "pubmed"}},
                {
                    "text": "secret",
                    "annotations": {"source_api": "medscan"},
                    # realistic page row: content source is pubmed, the
                    # READER is medscan — redaction keys on the reader
                    "text_refs": {"SOURCE": "pubmed", "READER": "medscan"},
                },
            ]
        }
    }
    out = redact_evidence_text(stmts, has_elsevier=False, has_medscan=False)
    evs = out[1]["evidence"]
    assert evs[0]["text"] == "x" * REDACT_CHARS + REDACT_MARKER
    assert evs[1]["text"] == long_text  # open-access untouched
    assert evs[2]["text"] is None

    stmts[1]["evidence"][0]["text"] = long_text
    stmts[1]["evidence"][2]["text"] = "secret"
    out = redact_evidence_text(stmts, has_elsevier=True, has_medscan=True)
    assert out[1]["evidence"][0]["text"] == long_text
    assert out[1]["evidence"][2]["text"] == "secret"


def test_num_agents_string_param():
    q, _ = query_from_web_params({"agent": "MEK", "num_agents": "12"})
    from indra_db_spark.plans.queries import HasNumAgents

    nums = [c for c in q.queries if isinstance(c, HasNumAgents)]
    assert nums and nums[0].agent_nums == [12]


def test_unknown_type_raises():
    with pytest.raises(ValueError):
        HasType(["Phosphorilation"])  # typo must not silently match nothing


# ----------------------------------------------------------------- REST shim


def test_rest_shim_round_trip(spark):
    import json
    from urllib.request import Request, urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.service.rest import serve

    lake, _, _ = fixture_lake(spark)
    server = serve(lake)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        assert json.load(urlopen(f"{base}/health")) == {"status": "ok"}

        got = json.load(
            urlopen(f"{base}/statements/from_agents?agent=MEK&limit=2&ev_limit=3")
        )
        assert got["statements"] and got["limit"] == 2
        for stmt in got["statements"].values():
            assert len(stmt["evidence"]) <= 3

        hashes = json.load(urlopen(f"{base}/hashes/from_agents?agent=MEK&limit=5"))
        assert hashes["results"]
        evs = [r["ev_count"] for r in hashes["results"]]
        assert evs == sorted(evs, reverse=True)

        # POST simple-JSON query
        body = json.dumps(
            {"query": {"class": "HasAgent", "agent_id": "MEK"}, "limit": 3}
        ).encode()
        req = Request(f"{base}/query/hashes", data=body,
                      headers={"Content-Type": "application/json"})
        got2 = json.load(urlopen(req))
        assert {r["mk_hash"] for r in got2["results"]} <= {
            r["mk_hash"] for r in hashes["results"]
        }

        # /compile conformance
        req = Request(f"{base}/compile",
                      data=json.dumps({"class": "HasType",
                                       "constraint": {"stmt_types": ["Activation"]}}).encode(),
                      headers={"Content-Type": "application/json"})
        comp = json.load(urlopen(req))
        assert comp["compiled"]["class"] == "HasType"

        # bad request -> 400 with an error payload
        from urllib.error import HTTPError

        try:
            urlopen(f"{base}/statements/from_agents")
            raise AssertionError("expected 400")
        except HTTPError as e:
            assert e.code == 400 and "error" in json.load(e)
    finally:
        server.shutdown()


def test_rest_page_args_validated(spark):
    """limit and offset come from outside: a negative one is a 400 with
    an error payload, and limit=0 is an empty page on every result type
    (never the whole result, which would bypass the MAX_STMTS clamp)."""
    import json
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from indra_db_spark.service.rest import RESULT_TYPES, serve

    lake, _, _ = fixture_lake(spark)
    server = serve(lake)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        for rt in RESULT_TYPES:
            for bad in ("limit=-1", "offset=-1"):
                with pytest.raises(HTTPError) as e:
                    urlopen(f"{base}/{rt}/from_agents?agent=MEK&{bad}")
                assert e.value.code == 400 and "error" in json.load(e.value)
            got = json.load(
                urlopen(f"{base}/{rt}/from_agents?agent=MEK&limit=0")
            )
            key = "statements" if rt == "statements" else "results"
            assert not got[key], rt
            # the same query without the limit is not empty
            full = json.load(urlopen(f"{base}/{rt}/from_agents?agent=MEK"))
            assert full[key], rt
    finally:
        server.shutdown()


def test_rest_malformed_body_is_a_400():
    """A POST whose Content-Length is not a number, is negative, or
    whose JSON body is not an object gets a JSON 400 promptly — not a
    dropped connection, a read that blocks until the client gives up, or
    a 500."""
    import json
    import socket

    from indra_db_spark.service.rest import serve

    server = serve(None)  # body validation runs before any route reads the lake
    host, port = server.server_address
    cases = (
        ("abc", b""),
        ("-1", b""),
        ("2", b"[]"),
    )
    try:
        for length, body in cases:
            with socket.create_connection((host, port), timeout=10) as sock:
                sock.sendall(
                    b"POST /statements/from_hashes HTTP/1.1\r\n"
                    b"Host: test\r\nContent-Type: application/json\r\n"
                    + f"Content-Length: {length}\r\n\r\n".encode()
                    + body
                )
                resp = b""
                while chunk := sock.recv(65536):
                    resp += chunk
            head, _, payload = resp.partition(b"\r\n\r\n")
            assert head.split(b" ")[1:2] == [b"400"], (length, resp)
            assert "error" in json.loads(payload), (length, resp)
    finally:
        server.shutdown()


def test_rest_malformed_fields_are_400s():
    """A POST body field of the wrong JSON type is a caller error: a
    JSON 400 naming the field, not a 500 with a logged traceback."""
    import json
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from indra_db_spark.service.rest import serve

    server = serve(None)  # field checks run before any route reads the lake
    host, port = server.server_address
    ok_query = {"class": "HasAgent", "agent_id": "MEK"}
    cases = (
        ("/statements/from_papers", {"ids": [1]}, "ids"),
        ("/statements/from_papers", {"ids": "pmid:1"}, "ids"),
        ("/statements/from_hashes", {"hashes": 5}, "hashes"),
        ("/statements/from_hashes", {"hashes": [[1]]}, "hashes"),
        (
            "/statements/from_papers",
            {"ids": [{"type": "pmid", "id": "1"}], "mesh_ids": [{"D": 1}]},
            "mesh_ids",
        ),
        ("/statements/from_agent_json", {"agent_json": 5}, "agent_json"),
        ("/expand", {"agent_json": ["MEK"]}, "agent_json"),
        ("/statements/from_simple_json", {"query": 5}, "query"),
        ("/query/statements", {"query": {"and": 5}}, "and"),
        (
            "/agents/from_simple_json",
            {"query": ok_query, "complexes_covered": [[1]]},
            "complexes_covered",
        ),
    )
    try:
        for path, body, word in cases:
            req = Request(
                f"http://{host}:{port}{path}",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with pytest.raises(HTTPError) as e:
                urlopen(req)
            assert e.value.code == 400, (path, body)
            assert word in json.load(e.value)["error"], (path, body)
    finally:
        server.shutdown()


def test_rest_route_parity(spark):
    """The reference's full route surface (api.py:359-418 dispatch +
    curation endpoints api.py:570-639): every result type and method the
    Flask app serves answers here with the same semantics."""
    import json
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from pyspark.sql import functions as F

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.plans.principal import CurationStore
    from indra_db_spark.service.rest import serve

    lake, stmts, papers = fixture_lake(spark)
    pa = (
        lake["fast_raw_pa_link"]
        .groupBy("mk_hash")
        .agg(F.any_value("pa_json").alias("json"))
    )
    store = CurationStore(spark)
    server = serve(lake, curation=store, pa_statements=pa)
    host, port = server.server_address
    base = f"http://{host}:{port}"

    def get(path):
        return json.load(urlopen(f"{base}{path}"))

    def post(path, payload):
        req = Request(
            f"{base}{path}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        return json.load(urlopen(req))

    try:
        hashes = [
            r["mk_hash"]
            for r in get("/hashes/from_agents?agent=MEK&limit=5")["results"]
        ]
        assert hashes

        # GET from_hash/<h>: the 1000-default ev_limit special case
        one = get(f"/statements/from_hash/{hashes[0]}")
        assert set(one["statements"]) == {str(hashes[0])}
        n_ev_default = len(one["statements"][str(hashes[0])]["evidence"])
        capped = get(f"/statements/from_hash/{hashes[0]}?ev_limit=1")
        assert len(capped["statements"][str(hashes[0])]["evidence"]) == 1
        assert n_ev_default >= 1  # default pulled >= the capped page

        # POST from_hashes
        many = post("/statements/from_hashes", {"hashes": hashes[:2]})
        assert set(many["statements"]) == {str(h) for h in hashes[:2]}

        # metadata grains over the same constraint
        inter = get("/interactions/from_agents?agent=MEK&limit=10")["results"]
        assert inter and all("agent_json" in r and "type_num" in r for r in inter)
        rel = get("/relations/from_agents?agent=MEK&limit=10")["results"]
        assert rel and all(isinstance(r["hashes"], list) for r in rel)
        ag = get("/agents/from_agents?agent=MEK&limit=10")
        assert ag["results"] and isinstance(ag["complexes_covered"], list)

        # with_english (call_handlers.py:234-272): typed render on the
        # relation/interaction grains, bolded meta fallback on agents
        rel_en = get("/relations/from_agents?agent=MEK&limit=10&with_english=true")[
            "results"
        ]
        assert rel_en and all(r["english"].endswith(".") for r in rel_en)
        assert any("MEK" in r["english"] for r in rel_en)
        ag_en = get("/agents/from_agents?agent=MEK&limit=10&with_english=true")
        assert ag_en["results"] and all(
            r["english"].startswith("<b>") for r in ag_en["results"]
        )
        # absent unless requested
        assert all("english" not in r for r in rel)

        # from_paper / from_papers
        pmid = papers[0].pmid
        via_get = get(f"/hashes/from_paper/pmid/{pmid}")["results"]
        via_post = post(
            "/hashes/from_papers", {"ids": [{"type": "pmid", "id": pmid}]}
        )["results"]
        assert {r["mk_hash"] for r in via_get} == {r["mk_hash"] for r in via_post}
        assert via_get

        # from_agent_json drill-down: take an interactions row's agent map
        ajson = inter[0]["agent_json"]
        drill = post(
            "/interactions/from_agent_json", {"agent_json": ajson}
        )["results"]
        assert drill and all(r["agent_json"] == ajson for r in drill)

        # from_simple_json with complex paging state
        page1 = post(
            "/agents/from_simple_json",
            {"query": {"class": "HasAgent", "agent_id": "MEK"}, "limit": 2},
        )
        page2 = post(
            "/agents/from_simple_json",
            {
                "query": {"class": "HasAgent", "agent_id": "MEK"},
                "limit": 2,
                "complexes_covered": page1["complexes_covered"],
            },
        )
        assert isinstance(page2["results"], list)

        # curation round trip: submit -> visible in lists, anonymized only
        # on the all-curations endpoint
        sub = post(
            f"/curation/submit/{hashes[0]}",
            {"tag": "correct", "curator": "alice@example.org", "text": "ok"},
        )
        assert sub == {"result": "success", "ref": {"id": 1}}
        # ...and the counts surface in statement results on request
        with_counts = get(
            f"/statements/from_hash/{hashes[0]}?with_cur_counts=true"
        )
        assert with_counts["num_curations"] == {str(hashes[0]): 1}
        listed = get(f"/curation/list/{hashes[0]}")["results"]
        assert [r["curator"] for r in listed] == ["alice@example.org"]
        all_cur = get("/curation/list")["results"]
        assert len(all_cur) == 1 and len(all_cur[0]["curator"]) == 16
        assert "@" not in all_cur[0]["curator"]

        # invalid curation hash -> 400 with the reference's message shape
        try:
            post("/curation/submit/123", {"tag": "x", "curator": "a@b.c"})
            raise AssertionError("expected 400")
        except HTTPError as e:
            assert e.code == 400 and "Invalid hash" in json.load(e)["error"]

        # malformed GET param -> 400 JSON, not a dropped connection
        try:
            get("/hashes/from_agents?agent=MEK&limit=abc")
            raise AssertionError("expected 400")
        except HTTPError as e:
            assert e.code == 400

        # reference aliases: /healthcheck (api.py:194), /metadata/<rt>/<m>
        # (api.py:360 — same handler), /compile/<fmt> path param
        # (api.py:527), bare /curation descriptor (api.py:542)
        assert get("/healthcheck") == {"status": "ok"}
        assert (
            get("/metadata/hashes/from_agents?agent=MEK&limit=5")["results"]
            == get("/hashes/from_agents?agent=MEK&limit=5")["results"]
        )
        meta_post = post("/metadata/statements/from_hashes", {"hashes": hashes[:1]})
        assert set(meta_post["statements"]) == {str(hashes[0])}
        comp = post(
            "/compile/json", {"and": [{"class": "HasAgent", "agent_id": "MEK"}]}
        )
        assert comp["compiled"]["class"] == "HasAgent"
        assert "/curation/submit/<hash>" in get("/curation")["routes"]
    finally:
        server.shutdown()


def test_rest_expand_and_ground_routes(spark):
    """/expand (api.py:421-500) and /ground (api.py:199-206): the two
    routes the r4 verdict flagged as missing from the shim."""
    import json
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.plans.queries import HasAgent
    from indra_db_spark.service.rest import serve

    lake, stmts, _ = fixture_lake(spark)

    def grounder(text):
        return [{"term": {"db": "FPLX", "id": text.upper(),
                          "entry_name": text}, "score": 0.9}]

    server = serve(lake, grounder=grounder)
    host, port = server.server_address
    base = f"http://{host}:{port}"

    def get(path):
        return json.load(urlopen(f"{base}{path}"))

    def post(path, payload):
        req = Request(
            f"{base}{path}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
        )
        return json.load(urlopen(req))

    try:
        rel = get("/relations/from_agents?agent=MEK&limit=3")["results"]
        aj = rel[0]["agent_json"]

        # no stmt_type: relations grain re-aggregation
        exp = post("/expand", {"agent_json": aj})
        assert exp["results"]
        assert all("hashes" in r for r in exp["results"])

        # typed drill-down reaches the per-hash interaction grain
        by_hash = {s.mk_hash: s for s in stmts}
        h = rel[0]["hashes"][0]
        typed = post(
            "/expand",
            {"agent_json": aj, "stmt_type": by_hash[h].stmt_type},
        )
        assert typed["results"] and all("mk_hash" in r for r in typed["results"])
        # hash restriction narrows the expansion
        narrowed = post(
            "/expand",
            {"agent_json": aj, "stmt_type": by_hash[h].stmt_type,
             "hashes": [h]},
        )
        assert {r["mk_hash"] for r in narrowed["results"]} == {h}

        # missing agent_json -> 400
        try:
            post("/expand", {})
            raise AssertionError("expected 400")
        except HTTPError as e:
            assert e.code == 400

        # /ground via the installed grounder
        g = get("/ground?agent=mek")
        assert g["results"][0]["term"]["id"] == "MEK"
        try:
            get("/ground")
            raise AssertionError("expected 400")
        except HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()

    # without any grounder (and a clean HasAgent seam): 503
    HasAgent.grounding_service = None
    bare = serve(lake)
    host, port = bare.server_address
    try:
        urlopen(f"http://{host}:{port}/ground?agent=mek")
        raise AssertionError("expected 503")
    except HTTPError as e:
        assert e.code == 503
    finally:
        bare.shutdown()


def test_lake_name_grounder(spark):
    """Concrete AUTO grounding (reference grounds through gilda,
    query.py:1586-1612): the lake-derived frequency index grounds a known
    agent name, feeds the HasAgent seam, and serves /ground."""
    import json
    from urllib.request import urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.plans.queries import HasAgent
    from indra_db_spark.service.grounding import LakeNameGrounder
    from indra_db_spark.service.rest import serve

    lake, stmts, _ = fixture_lake(spark)
    grounder = LakeNameGrounder.from_lake(lake)

    matches = grounder("mek")
    assert matches, "MEK must ground from the fixture corpus"
    assert matches[0]["score"] >= max(m["score"] for m in matches)
    top = matches[0]["term"]
    assert top["db"] and top["id"]
    # scores are occurrence shares: they sum to <= 1 per surface form
    assert sum(m["score"] for m in matches) <= 1.0 + 1e-6
    # qualifier fallback: "mek kinase" reaches the "mek" entry
    assert grounder("mek kinase") == matches
    assert grounder("completely unknown thing") == []

    # the seam drives an AUTO query end-to-end: same hashes as querying
    # the grounded namespace directly
    HasAgent.grounding_service = grounder.as_seam()
    try:
        auto = {
            r.mk_hash
            for r in HasAgent("MEK", namespace="AUTO").hashes(lake).collect()
        }
        direct = {
            r.mk_hash
            for r in HasAgent(top["id"], namespace=top["db"])
            .hashes(lake)
            .collect()
        }
        assert auto == direct and auto
    finally:
        HasAgent.grounding_service = None

    # /ground serves the same matches
    server = serve(lake, grounder=grounder)
    host, port = server.server_address
    try:
        got = json.load(urlopen(f"http://{host}:{port}/ground?agent=mek"))
        assert got["results"] == matches
    finally:
        server.shutdown()


def test_search_data_and_autocomplete_routes(spark):
    """The /search page's JSON data contract (reference api.py:206-246:
    stmt_types_json + sources_dict) and the agent autocomplete over the
    grounder index — the last user-visible reference behavior that had
    no JSON analog."""
    import json
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.schemas import TYPE_REGISTRY, TYPE_SUBCLASSES
    from indra_db_spark.service.grounding import LakeNameGrounder
    from indra_db_spark.service.rest import serve

    lake, stmts, _ = fixture_lake(spark)
    grounder = LakeNameGrounder.from_lake(lake)

    # suggest(): prefix scan, frequency-ranked, top grounding attached
    sugg = grounder.suggest("me")
    assert sugg and all(s["name"].startswith("me") for s in sugg)
    assert [s["n"] for s in sugg] == sorted(
        (s["n"] for s in sugg), reverse=True
    )
    assert all(s["top"]["db"] and s["top"]["id"] for s in sugg)
    assert grounder.suggest("zzz-no-such-agent") == []

    server = serve(lake, grounder=grounder)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        data = json.load(urlopen(f"{base}/search/data"))
        assert data["stmt_types"] == sorted(
            TYPE_REGISTRY + sorted(TYPE_SUBCLASSES)
        )
        assert "Phosphorylation" in data["stmt_types"]
        assert "Modification" in data["stmt_types"]  # abstract parents too
        assert set(data["sources"]) == {"reading", "databases"}
        assert "reach" in data["sources"]["reading"]

        got = json.load(urlopen(f"{base}/search/agents?prefix=me&limit=3"))
        assert got["suggestions"] == grounder.suggest("me", 3)

        try:
            urlopen(f"{base}/search/agents")
            raise AssertionError("missing prefix must 400")
        except HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_html_pages_served(spark):
    """/search and /monitor serve the dependency-free HTML consumers of
    the JSON API (the reference's template pages, api.py:206-246)."""
    from urllib.request import urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.service.rest import serve

    lake, _, _ = fixture_lake(spark)
    server = serve(lake)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        r = urlopen(f"{base}/search")
        assert r.headers.get_content_type() == "text/html"
        body = r.read().decode()
        # the page must consume exactly the public JSON routes
        for route in ("/search/data", "/search/agents",
                      "/statements/from_agents"):
            assert route in body
        r2 = urlopen(f"{base}/monitor")
        body2 = r2.read().decode()
        assert "/monitor/data/runtime" in body2
        assert "/summary/data/stats" in body2
    finally:
        server.shutdown()


def test_data_vis_asset_server(spark):
    """/data-vis/<path> serves the built-in bundle with the reference's
    suffix->content-type behavior (api.py:247-254); traversal out of the
    asset root and unknown files 404; /ilv/<file> stays gated behind the
    external-dir env var like the reference's testing-only route."""
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.service.rest import serve

    lake, _, _ = fixture_lake(spark)
    server = serve(lake)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        page = urlopen(f"{base}/data-vis/index.html")
        assert page.headers.get_content_type() == "text/html"
        body = page.read().decode()
        assert "/data-vis/dashboard.js" in body
        js = urlopen(f"{base}/data-vis/dashboard.js")
        assert js.headers["Content-Type"] == "application/javascript"
        jsbody = js.read().decode()
        for route in ("/monitor/data/runtime", "/summary/data/stats"):
            assert route in jsbody
        css = urlopen(f"{base}/data-vis/style.css")
        assert css.headers["Content-Type"] == "text/css"
        for bad in ("/data-vis/nope.js", "/data-vis/../rest.py",
                    "/data-vis/..%2Frest.py", "/ilv/app.js"):
            try:
                urlopen(base + bad)
                raise AssertionError(f"{bad} should 404")
            except HTTPError as e:
                assert e.code == 404, bad
    finally:
        server.shutdown()


def test_rest_answers_engine_faults_with_500(spark, tmp_path):
    """A request that fails inside Spark — here a committed data file of
    a served txlog lake was deleted under it — gets a JSON 500 instead of
    a dropped connection, and the server keeps answering."""
    import glob
    import json
    import os
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.service.rest import serve

    mem_lake, _, _ = fixture_lake(spark)
    root = str(tmp_path / "lake")
    mem_lake.write_txlog(spark, root, stats=True)
    lake = ReadonlyLake.from_txlog(spark, root)
    server = serve(lake)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        page = f"{base}/statements/from_agents?agent=MEK&limit=2&ev_limit=3"
        assert json.load(urlopen(page))["statements"]
        for f in glob.glob(f"{root}/source_meta/data/*.parquet"):
            os.remove(f)
        for req in (
            page,
            Request(
                f"{base}/hashes/from_hashes",
                data=json.dumps(
                    {"hashes": [lake["name_meta"].first().mk_hash]}
                ).encode(),
                method="POST",
            ),
        ):
            try:
                urlopen(req)
                raise AssertionError("a request over a lost file should fail")
            except HTTPError as e:
                assert e.code == 500
                assert json.load(e)["error"]
        assert json.load(urlopen(f"{base}/health")) == {"status": "ok"}
    finally:
        server.shutdown()


def test_curation_store_only_a_missing_log_reads_empty(spark, tmp_path):
    """A store over a path nothing was committed to starts ids at 1 and
    lists nothing; a committed data file that cannot be read raises — at
    open (ids must not restart at 1) and in ``df()`` (counts and lists
    must not come out silently empty) — and REST answers the list
    route with a JSON 500."""
    import json
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from indra_db_spark.plans.principal import CurationStore
    from indra_db_spark.service.rest import serve

    path = tmp_path / "curation_log"
    store = CurationStore(spark, str(path))
    assert store.df().count() == 0
    assert store.submit(7, "correct", "alice@example.org", "::1") == 1
    assert store.submit(7, "grounding", "bob@example.org", "::1") == 2

    committed = sorted((path / "data").glob("*.parquet"))
    assert len(committed) == 2
    committed[0].write_bytes(b"not parquet")
    with pytest.raises(Exception):
        CurationStore(spark, str(path))
    with pytest.raises(Exception):
        store.df().count()
    server = serve(None, curation=store)
    host, port = server.server_address
    try:
        with pytest.raises(HTTPError) as e:
            urlopen(f"http://{host}:{port}/curation/list")
        assert e.value.code == 500
        assert json.load(e.value)["error"]
    finally:
        server.shutdown()


def test_curation_failed_submit_persists_nothing(spark, tmp_path, monkeypatch):
    """A submit whose commit fails raises, and leaves no row in ``df()``
    or ``counts()`` and no id consumed: the next submit takes the next
    id, and a fresh store over the log sees only acknowledged rows."""
    from indra_db_spark.plans import txlog
    from indra_db_spark.plans.principal import CurationStore

    path = str(tmp_path / "cur")
    store = CurationStore(spark, path)
    assert store.submit(7, "correct", "alice@example.org", "::1") == 1
    fail = [True]

    def hook(_table):
        if fail.pop() if fail else False:
            raise OSError("commit failed")

    monkeypatch.setattr(txlog, "_pre_commit_hook", hook)
    with pytest.raises(OSError):
        store.submit(8, "incorrect", "bob@example.org", "::1")
    assert store.submit(9, "grounding", "carol@example.org", "::1") == 2
    for s in (store, CurationStore(spark, path)):
        rows = sorted((r.id, r.pa_hash) for r in s.df().collect())
        assert rows == [(1, 7), (2, 9)]
        assert s.counts([7, 8, 9]) == {7: 1, 9: 1}


def test_curation_stores_sharing_a_root_never_share_an_id(spark, tmp_path):
    """Two stores on one root submitting from threads: every id is
    unique, and each store's in-memory counts equal a group-by over
    the committed table once it has folded the other's commits."""
    import threading

    from indra_db_spark.plans.principal import CurationStore

    path = str(tmp_path / "cur")
    stores = [CurationStore(spark, path), CurationStore(spark, path)]
    acked: list[int] = []
    errs: list[Exception] = []

    def work(k):
        try:
            for i in range(3):
                acked.append(
                    stores[k % 2].submit(10 + (k + i) % 3, "correct", "a@b.c", "::1")
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=work, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(acked) == list(range(1, 13))
    for store in stores:
        assert sorted(r.id for r in store.df().collect()) == sorted(acked)
        want = {
            r.pa_hash: r.curation_count
            for r in curation_counts(store.df()).collect()
        }
        assert store.counts([10, 11, 12, 13]) == want
        assert sum(want.values()) == 12


def test_curation_counts_fold_past_compaction_and_vacuum(spark, tmp_path):
    """A store whose folded version was vacuumed away (another writer
    appended, compacted and vacuumed) re-reads the table in full: its
    counts and next id stay right."""
    from indra_db_spark.plans.principal import CurationStore
    from indra_db_spark.plans.txlog import TxTable

    path = str(tmp_path / "cur")
    a, b = CurationStore(spark, path), CurationStore(spark, path)
    assert a.submit(5, "correct", "a@b.c", "::1") == 1
    assert b.submit(5, "correct", "b@b.c", "::1") == 2
    assert b.submit(6, "correct", "b@b.c", "::1") == 3
    table = TxTable(spark, path)
    table.compact()
    assert table.vacuum(keep_versions=1, min_age_ms=0)
    assert a.counts([5, 6]) == {5: 2, 6: 1}
    assert a.submit(6, "grounding", "a@b.c", "::1") == 4


def test_curation_counts_run_no_spark_job(spark, tmp_path):
    """``CurationStore.counts`` after this store's own submits runs no
    Spark job; the group-by it replaces runs at least one under the
    same probe."""
    from indra_db_spark.plans.principal import CurationStore

    store = CurationStore(spark, str(tmp_path / "cur"))
    for h in (5, 5, 6):
        store.submit(h, "correct", "a@b.c", "::1")
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    got, ids = jobs("counts-probe", lambda: store.counts([5, 6, 7]))
    assert got == {5: 2, 6: 1} and list(ids) == []
    old, ids = jobs(
        "groupby-probe",
        lambda: curation_counts(
            store.df().filter("pa_hash IN (5, 6, 7)")
        ).collect(),
    )
    assert {r.pa_hash: r.curation_count for r in old} == got and list(ids)


def test_curation_counts_answer_while_a_submit_writes(spark, tmp_path, monkeypatch):
    """A counts read answers while a submit of the same store is held
    between its staged write and its commit, and sees that submit once
    it commits."""
    import threading

    from indra_db_spark.plans import txlog
    from indra_db_spark.plans.principal import CurationStore

    store = CurationStore(spark, str(tmp_path / "cur"))
    store.submit(5, "correct", "a@b.c", "::1")
    entered, release = threading.Event(), threading.Event()

    def hold(_table):
        entered.set()
        assert release.wait(120)

    monkeypatch.setattr(txlog, "_pre_commit_hook", hold)
    writer = threading.Thread(
        target=store.submit, args=(5, "grounding", "b@b.c", "::1")
    )
    writer.start()
    try:
        assert entered.wait(120)
        assert store.counts([5]) == {5: 1}
        assert writer.is_alive()
    finally:
        release.set()
        writer.join()
    assert store.counts([5]) == {5: 2}


def test_warm_server_compiles_no_code_per_request_key(spark, tmp_path):
    """Per-request keys are bound as data (``plans.txlog.isin``), so a
    warm server answers fresh-valued pages of a shape it has served
    without generating new code: after one request per shape, fresh
    from_hash, from_papers and from_agents statement pages raise
    Spark's codegen compile count by at most 1 per request on average
    (a key spelled into the generated Java costs every such request
    a compile per plan stage)."""
    import json
    from urllib.request import Request, urlopen

    from indra_db_spark.plans.fixtures import fixture_lake
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.service.rest import serve

    mem_lake, stmts, papers = fixture_lake(spark)
    root = str(tmp_path / "lake")
    mem_lake.write_txlog(spark, root, stats=True)
    lake = ReadonlyLake.from_txlog(spark, root)
    server = serve(lake)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    page = "limit=5&ev_limit=3"

    def from_hash(h):
        return f"{base}/statements/from_hash/{h}?{page}"

    def from_papers(pmid):
        body = {"ids": [{"type": "pmid", "id": pmid}], "limit": 5, "ev_limit": 3}
        return Request(
            f"{base}/statements/from_papers",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )

    def from_agents(name):
        return f"{base}/statements/from_agents?agent={name}&{page}"

    hashes = sorted({s.mk_hash for s in stmts})
    pmids = sorted({p.pmid for p in papers})
    agents = ["ERK", "TP53", "MEK", "Vemurafenib"]
    warm = [from_hash(hashes[0]), from_papers(pmids[0]), from_agents(agents[0])]
    fresh = (
        [from_hash(h) for h in hashes[1:5]]
        + [from_papers(p) for p in pmids[1:4]]
        + [from_agents(a) for a in agents[1:]]
    )
    try:
        for req in warm:
            assert json.load(urlopen(req))["statements"]
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for req in fresh:
            assert "statements" in json.load(urlopen(req))
        compiles = metrics.METRIC_COMPILATION_TIME().getCount() - before
    finally:
        server.shutdown()
    assert compiles <= len(fresh), (compiles, len(fresh))
