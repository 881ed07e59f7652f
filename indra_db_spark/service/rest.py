"""Minimal REST front end over the service layer — the reference's
indra_db_service Flask app (api.py:339-560, call_handlers.py:43-712)
re-expressed with only the standard library so the engine stays
dependency-free.  The HTTP layer is deliberately thin: every route is one
call into ``service.params`` + ``plans.shaping`` / ``plans.principal``; a
production deployment would mount the same functions under Flask/FastAPI
unchanged.

Routes (result_type ∈ statements|hashes|interactions|relations|agents, as
api.py:359-418; method dispatch mirrors the ApiCall subclasses):

- ``GET  /health``
- ``GET  /<result_type>/from_agents?agent=MEK@FPLX&type=...&limit=&ev_limit=``
- ``GET  /<result_type>/from_hash/<hash>`` — ev_limit defaults to 1000
  (FromHashApiCall.default_ev_lim, call_handlers.py:635)
- ``GET  /<result_type>/from_paper/<id_type>/<id_val>``
- ``POST /<result_type>/from_hashes``  body ``{"hashes": [...]}``
- ``POST /<result_type>/from_papers`` body ``{"ids": [{"type":..,"id":..}],
  "mesh_ids": [...]}`` (call_handlers.py:642-660)
- ``POST /<result_type>/from_agent_json``  body ``{"agent_json": ...,
  "stmt_type": ..., "hashes": [...]}`` (call_handlers.py:662-672)
- ``POST /<result_type>/from_simple_json`` body ``{"query": <simple-json>,
  "complexes_covered": [...]}`` (call_handlers.py:674-689)
- ``POST /query/<result_type>``  (alias of from_simple_json, kept for the
  DirectQuery shape)
- ``POST /compile[?format=json|string]``  (conformance endpoint,
  api.py:527-539)
- ``GET  /ground?agent=<text>`` — grounding matches from the injectable
  grounder (api.py:199-206; gilda in the reference)
- ``POST /expand`` body ``{"agent_json": ..., "stmt_type": ...,
  "hashes": [...]}`` — AgentJsonExpander drill-down (api.py:421-500)
- ``POST /curation/submit/<hash>`` body ``{"tag":..., "curator":...,
  "text":..., "ev_hash":..., "source":...}`` (api.py:570-600)
- ``GET  /curation/list/<stmt_hash>[/<src_hash>]`` — curators in the clear
  (api.py:603-614)
- ``GET  /curation/list`` — curators anonymized md5[:16] (api.py:620-639)
- ``GET  /summary/data/stats`` — db_stats payload (api.py:285-293), from
  ``service.monitor.generate_db_stats``
- ``GET  /monitor/data/runtime`` / ``liststages`` / ``<stage>`` — stage
  runtime bars and count digests (api.py:300-338), from the
  ``service.monitor.DataGatherer`` blob store

The ``medscan`` query param simulates the reference's API-key permission
(call_handlers.py:168-174): without it, medscan-only statements are
censored from results.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from indra_db_spark.plans.principal import (
    BadHashError,
    CurationStore,
    anonymize_curators,
    curations_for,
)
from indra_db_spark.plans.queries import FromAgentJson, FromMeshIds, FromPapers, HasHash
from indra_db_spark.plans.shaping import (
    DEFAULT_EV_LIMIT,
    EvidenceFilter,
    get_agents_json,
    get_hashes,
    get_interactions,
    get_relations,
    get_statements,
)
from indra_db_spark.service.params import (
    MAX_STMTS,
    WebQueryError,
    apply_medscan_censor,
    compile_query,
    query_from_simple_json,
    query_from_web_params,
)
from pyspark.sql import functions as F

from indra_db_spark.functions.english import meta_english_expr, render_english

log = logging.getLogger(__name__)

RESULT_TYPES = ("statements", "hashes", "interactions", "relations", "agents")

#: FromHashApiCall.default_ev_lim (call_handlers.py:635): the single-hash
#: page shows effectively all evidence
FROM_HASH_EV_LIMIT = 1000


def _web_params(qs: dict[str, list[str]]) -> dict:
    """parse_qs output → the dict shape query_from_web_params expects
    (scalars for single values, lists for repeated params)."""
    out: dict = {}
    for k, vals in qs.items():
        if k in ("limit", "offset", "ev_limit", "sort_by", "medscan", "format"):
            continue
        out[k] = vals if len(vals) > 1 else vals[0]
    return out


def _field(body: dict, key: str, kind: type, items: tuple = ()):
    """``body[key]``, None when absent; a 400 when it is not a ``kind``
    or, for a list, holds an element that is none of ``items``.  A
    caller's malformed field must not reach the engine as a TypeError,
    which would be answered as an engine fault (a 500)."""
    v = body.get(key)
    if v is not None and (
        not isinstance(v, kind)
        or any(isinstance(x, bool) or not isinstance(x, items) for x in v if items)
    ):
        of = " of " + "/".join(t.__name__ for t in items) if items else ""
        raise WebQueryError(f"{key!r} must be a {kind.__name__}{of}")
    return v


def _rows_json(df, limit):
    if limit is not None:
        df = df.limit(limit)
    return [json.loads(s) for s in df.toJSON().collect()]


def make_handler(
    lake,
    curation: CurationStore | None = None,
    pa_statements=None,
    grounder=None,
    stats=None,
    stage_store=None,
):
    """``curation`` enables the write endpoints; ``pa_statements`` (a
    (mk_hash, json) frame) makes submissions hash-validated.  ``grounder``
    (text -> list of gilda-shaped match dicts) enables ``/ground``
    (reference api.py:199-206); when omitted it falls back to the
    ``HasAgent.grounding_service`` seam (plans/queries.py) wrapped into the
    same shape, and 503s if neither is installed.  ``stats`` (a dict or a
    zero-arg callable producing one, e.g. ``monitor.generate_db_stats``
    partially applied) enables ``/summary/data/stats`` (api.py:285-293);
    ``stage_store`` (a ``monitor.LocalStageStore``) enables the
    ``/monitor/data/*`` routes (api.py:300-338) — digests are recomputed
    from the stage blobs on each request, where the reference serves
    pre-digested S3 objects."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _send_html(self, html: str) -> None:
            body = html.encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _page_args(self, qs) -> dict:
            limit = int(qs.get("limit", [str(MAX_STMTS)])[0])
            offset = int(qs.get("offset", ["0"])[0])
            if limit < 0 or offset < 0:
                raise WebQueryError(
                    f"limit and offset must be >= 0, got {limit}, {offset}"
                )
            return {
                "limit": min(limit, MAX_STMTS),
                "offset": offset,
                "sort_by": qs.get("sort_by", ["ev_count"])[0],
            }

        def _run(
            self,
            result_type: str,
            query,
            ev_filter,
            qs,
            ev_default: int = DEFAULT_EV_LIMIT,
            complexes_covered=None,
        ) -> dict:
            if result_type not in RESULT_TYPES:
                raise WebQueryError(f"unknown result type {result_type!r}")
            query = apply_medscan_censor(
                query, has_medscan=qs.get("medscan", ["false"])[0] == "true"
            )
            page = self._page_args(qs)
            if result_type == "hashes":
                rows = get_hashes(query, lake, **page).collect()
                return {
                    "results": [
                        {"mk_hash": r.mk_hash, "ev_count": r.ev_count,
                         "belief": r.belief}
                        for r in rows
                    ]
                }
            if result_type == "statements":
                ev_limit = int(qs.get("ev_limit", [str(ev_default)])[0])
                res = get_statements(
                    query, lake, ev_limit=ev_limit,
                    evidence_filter=ev_filter, **page,
                )
                out = res.json()
                # with_cur_counts: per-statement curation tallies ride the
                # response (produce_response, call_handlers.py:356-362),
                # read from the store's in-memory counts: no Spark job
                if (
                    qs.get("with_cur_counts", ["false"])[0] == "true"
                    and curation is not None
                ):
                    out["num_curations"] = {
                        str(h): n
                        for h, n in curation.counts(out["statements"]).items()
                    }
                return out
            # with_english: typed English riding the response rows, the
            # reference's row-at-a-time assembler loop
            # (call_handlers.py:234-272) as one column expression
            w_english = qs.get("with_english", ["false"])[0] == "true"
            if result_type == "interactions":
                df = get_interactions(query, lake, limit=page["limit"])
                if w_english:
                    df = render_english(df)
                return {"results": _rows_json(df, None)}
            if result_type == "relations":
                df = get_relations(query, lake, limit=page["limit"])
                if w_english:
                    df = render_english(df)
                return {"results": _rows_json(df, None)}
            # agents: stateful complex paging — covered hashes ride the
            # response so the client can carry them to the next page.
            # The agents grain carries no single type, so with_english
            # takes the reference's bolded meta fallback (util.py:144-165)
            extra = (
                [meta_english_expr(F.col("agent_json")).alias("english")]
                if w_english
                else []
            )
            rows, covered = get_agents_json(
                query, lake, page["limit"], complexes_covered, extra
            )
            return {
                "results": [json.loads(s) for s in rows],
                "complexes_covered": sorted(covered),
            }

        # ------------------------------------------------------------ GET

        def do_GET(self) -> None:
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            try:
                if url.path in ("/health", "/healthcheck"):
                    # reference exposes /healthcheck (api.py:194-197)
                    self._send(200, {"status": "ok"})
                    return
                parts = url.path.strip("/").split("/")
                # /metadata/<result_type>/<method> is an alias of the bare
                # route in the reference (api.py:359-360 — same handler,
                # different access-log tag)
                if parts[0] == "metadata" and len(parts) >= 3:
                    parts = parts[1:]
                if parts == ["curation"]:
                    # reference redirects /curation → /statements
                    # (api.py:542-545); JSON service: describe instead
                    self._send(
                        200,
                        {
                            "routes": [
                                "/curation/list",
                                "/curation/list/<stmt_hash>[/<src_hash>]",
                                "/curation/submit/<hash>",
                            ]
                        },
                    )
                    return
                if parts[0] == "curation" and len(parts) >= 2 and parts[1] == "list":
                    self._curation_list(parts[2:])
                    return
                if len(parts) == 2 and parts[1] == "from_agents":
                    query, ev_filter = query_from_web_params(_web_params(qs))
                    self._send(200, self._run(parts[0], query, ev_filter, qs))
                    return
                if len(parts) == 3 and parts[1] == "from_hash":
                    query = HasHash([int(parts[2])])
                    self._send(
                        200,
                        self._run(
                            parts[0], query, None, qs,
                            ev_default=FROM_HASH_EV_LIMIT,
                        ),
                    )
                    return
                if len(parts) == 4 and parts[1] == "from_paper":
                    query = FromPapers([(parts[2], parts[3])])
                    ev_filter = EvidenceFilter.from_papers([(parts[2], parts[3])])
                    self._send(200, self._run(parts[0], query, ev_filter, qs))
                    return
                if url.path == "/ground":
                    self._ground(qs)
                    return
                if parts[0] in ("data-vis", "ilv") and len(parts) >= 2:
                    # static-asset file servers mirroring the reference's
                    # /data-vis/<path> (built-in bundle) and /ilv/<file>
                    # (env-gated external dir, api.py:247-272)
                    import os as _os

                    from indra_db_spark.service import pages

                    root = (
                        pages.DATA_VIS_DIR
                        if parts[0] == "data-vis"
                        else _os.environ.get("INDRA_DB_SPARK_VUE_ROOT", "")
                    )
                    hit = pages.serve_asset("/".join(parts[1:]), root)
                    if hit is None:
                        self._send(404, {"error": f"{url.path} not found"})
                    else:
                        ctype, body = hit
                        self.send_response(200)
                        self.send_header("Content-Type", ctype)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                    return
                if url.path in ("/search", "/monitor"):
                    # tiny dependency-free HTML consumers of the JSON API
                    # (the reference serves template pages here,
                    # api.py:206-246 and :300-338)
                    from indra_db_spark.service import pages

                    self._send_html(
                        pages.SEARCH_HTML
                        if url.path == "/search"
                        else pages.MONITOR_HTML
                    )
                    return
                if url.path == "/search/data":
                    # the JSON data contract behind the reference's
                    # /search page (api.py:206-246): the statement-type
                    # vocabulary (biology classes incl. abstract parents,
                    # the stmt_types_json the page embeds) and the source
                    # groups (api.py:67 sources_dict shape)
                    from indra_db_spark.schemas import (
                        DB_SOURCES,
                        READER_SOURCES,
                        TYPE_REGISTRY,
                        TYPE_SUBCLASSES,
                    )

                    self._send(
                        200,
                        {
                            "stmt_types": sorted(
                                TYPE_REGISTRY + sorted(TYPE_SUBCLASSES)
                            ),
                            "sources": {
                                "reading": sorted(READER_SOURCES),
                                "databases": sorted(DB_SOURCES),
                            },
                        },
                    )
                    return
                if url.path == "/search/agents":
                    # agent-name autocomplete over the grounder index —
                    # the JSON behind the search box's agent field
                    if grounder is None or not hasattr(grounder, "suggest"):
                        self._send(503, {"error": "no grounder mounted"})
                        return
                    prefix = qs.get("prefix", [""])[0]
                    if not prefix:
                        raise WebQueryError("no prefix given")
                    limit = int(qs.get("limit", ["10"])[0])
                    self._send(
                        200,
                        {"suggestions": grounder.suggest(prefix, limit)},
                    )
                    return
                if url.path == "/summary/data/stats":
                    # api.py:285-293 serves the pregenerated db_stats.json
                    if stats is None:
                        self._send(503, {"error": "no stats mounted"})
                        return
                    self._send(200, stats() if callable(stats) else stats)
                    return
                if parts[0] == "monitor" and len(parts) == 3 and parts[1] == "data":
                    self._monitor(parts[2])
                    return
                self._send(404, {"error": f"no route {url.path}"})
            except (WebQueryError, KeyError, ValueError) as e:
                # ValueError/KeyError cover malformed query params (e.g. a
                # non-integer limit) — same contract as do_POST
                self._send(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — see _fail
                self._fail(e)

        def _fail(self, e: Exception) -> None:
            """Answer an engine fault (an AnalysisException, a
            SparkException, a data file gone missing) with a JSON 500
            instead of dropping the connection, and log its traceback."""
            log.exception("%s %s failed", self.command, self.path)
            msg = str(e).strip().splitlines()
            self._send(
                500,
                {"error": f"{type(e).__name__}: {msg[0] if msg else ''}"},
            )

        def _ground(self, qs) -> None:
            """GET /ground?agent=<text> (reference api.py:199-206: the
            gilda call returns a ranked list of match dicts)."""
            agent = qs.get("agent", [""])[0]
            if not agent:
                raise WebQueryError("no agent text given")
            fn = grounder
            if fn is None:
                from indra_db_spark.plans.queries import HasAgent

                seam = HasAgent.grounding_service
                if seam is not None:
                    def fn(text):  # (ns, id) -> one gilda-shaped match
                        res = seam(text)
                        if res is None:
                            return []
                        return [
                            {
                                "term": {"db": res[0], "id": res[1],
                                         "entry_name": text},
                                "score": 1.0,
                            }
                        ]
            if fn is None:
                self._send(503, {"error": "no grounding service mounted"})
                return
            self._send(200, {"results": fn(agent)})

        def _monitor(self, which: str) -> None:
            """GET /monitor/data/{runtime|liststages|<stage>}
            (api.py:300-338): runtime bars, stage list, per-stage count
            digests — all derived from the DataGatherer blob store."""
            if stage_store is None:
                self._send(503, {"error": "no stage store mounted"})
                return
            from indra_db_spark.service.monitor import digest_store

            runtimes, digests = digest_store(stage_store)
            if which == "runtime":
                self._send(200, {"results": runtimes})
            elif which == "liststages":
                self._send(200, {"results": sorted(digests)})
            elif which in digests:
                self._send(200, digests[which])
            else:
                self._send(404, {"error": f"no stage {which!r}"})

        def _curation_list(self, rest: list[str]) -> None:
            if curation is None:
                self._send(503, {"error": "no curation store mounted"})
                return
            df = curation.df()
            if rest:  # /curation/list/<hash>[/<src>] — clear curators
                out = curations_for(
                    df,
                    pa_hash=int(rest[0]),
                    source_hash=int(rest[1]) if len(rest) > 1 else None,
                    anonymize=False,
                )
            else:  # /curation/list — anonymized (api.py:631-639)
                out = anonymize_curators(df)
            self._send(200, {"results": _rows_json(out.drop("pa_json", "ev_json"), None)})

        # ----------------------------------------------------------- POST

        def _json_body(self) -> dict:
            """The request body, which must be a JSON object.  The length
            is checked before reading: ``rfile.read`` of a negative length
            would block until the client hangs up."""
            raw = self.headers.get("Content-Length", "0")
            n = int(raw) if raw.strip().isdigit() else -1
            if n < 0:
                raise WebQueryError(f"bad Content-Length {raw!r}")
            body = json.loads(self.rfile.read(n) or b"{}")
            if not isinstance(body, dict):
                raise WebQueryError("request body must be a JSON object")
            return body

        def do_POST(self) -> None:
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            try:
                body = self._json_body()
                parts = url.path.strip("/").split("/")
                if parts[0] == "compile":
                    # reference route is /compile/<fmt> (api.py:527);
                    # ?format= kept as a fallback spelling
                    fmt = (
                        parts[1]
                        if len(parts) == 2
                        else qs.get("format", ["json"])[0]
                    )
                    self._send(200, {"compiled": compile_query(body, fmt)})
                    return
                if parts[0] == "metadata" and len(parts) >= 3:
                    parts = parts[1:]
                if parts[0] == "curation" and len(parts) == 3 and parts[1] == "submit":
                    self._curation_submit(int(parts[2]), body)
                    return
                for k in ("limit", "offset", "ev_limit"):
                    if k in body:
                        qs[k] = [str(body[k])]
                if url.path == "/expand":
                    self._expand(body, qs)
                    return
                if len(parts) == 2 and parts[0] == "query":
                    query = query_from_simple_json(_field(body, "query", dict))
                    self._send(200, self._run(parts[1], query, None, qs))
                    return
                if len(parts) == 2 and parts[1] == "from_hashes":
                    hashes = _field(body, "hashes", list, (int, str))
                    if not hashes:
                        raise WebQueryError("no hashes given")
                    query = HasHash([int(h) for h in hashes])
                    self._send(200, self._run(parts[0], query, None, qs))
                    return
                if len(parts) == 2 and parts[1] == "from_papers":
                    ids = _field(body, "ids", list, (dict,))
                    if not ids:
                        raise WebQueryError("no paper IDs given")
                    papers = [(d["type"], d["id"]) for d in ids]
                    query = FromPapers(papers)
                    ev_filter = EvidenceFilter.from_papers(papers)
                    mesh = _field(body, "mesh_ids", list, (int, str)) or []
                    if mesh:
                        query = query & FromMeshIds(mesh)
                        ev_filter = EvidenceFilter.from_filters(
                            ev_filter, EvidenceFilter.from_mesh_ids(mesh)
                        )
                    self._send(200, self._run(parts[0], query, ev_filter, qs))
                    return
                if len(parts) == 2 and parts[1] == "from_agent_json":
                    agent_json = _field(body, "agent_json", dict)
                    if not agent_json:
                        raise WebQueryError("no agent_json given")
                    query = FromAgentJson(
                        agent_json,
                        _field(body, "stmt_type", str),
                        _field(body, "hashes", list, (int, str)),
                    )
                    self._send(200, self._run(parts[0], query, None, qs))
                    return
                if len(parts) == 2 and parts[1] == "from_simple_json":
                    query = query_from_simple_json(_field(body, "query", dict))
                    covered = _field(body, "complexes_covered", list, (int,))
                    self._send(
                        200,
                        self._run(
                            parts[0], query, None, qs,
                            complexes_covered=set(covered) if covered else None,
                        ),
                    )
                    return
                self._send(404, {"error": f"no route {url.path}"})
            except (WebQueryError, KeyError, ValueError) as e:
                self._send(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — see _fail
                self._fail(e)

        def _expand(self, body: dict, qs) -> None:
            """POST /expand (reference api.py:421-500): drill one
            agents-grain row down a level via AgentJsonExpander.  Body:
            ``{"agent_json": ..., "stmt_type": ..., "hashes": [...]}``;
            medscan-only rows are censored for callers without the
            permission, like every other route."""
            agent_json = _field(body, "agent_json", dict)
            if not agent_json:
                raise WebQueryError("no agent_json given")
            stmt_type = _field(body, "stmt_type", str)
            query = FromAgentJson(
                agent_json, stmt_type, _field(body, "hashes", list, (int, str))
            )
            # medscan-only statements censored at the query level (the
            # reference pops medscan counts and drops emptied entries,
            # api.py:460-470)
            query = apply_medscan_censor(
                query, has_medscan=qs.get("medscan", ["false"])[0] == "true"
            )
            limit = self._page_args(qs)["limit"]
            if stmt_type is None:
                df = get_relations(query, lake, limit=limit)
            else:
                df = get_interactions(query, lake, limit=limit)
            self._send(200, {"results": _rows_json(df, None)})

        def _curation_submit(self, hash_val: int, body: dict) -> None:
            if curation is None:
                self._send(503, {"error": "no curation store mounted"})
                return
            curator = body.get("curator") or body.get("email")
            if not curator:
                # api.py:575-577: a submission must identify its curator
                self._send(400, {"error": "curation requires a curator email"})
                return
            try:
                cid = curation.submit(
                    hash_val,
                    tag=body.get("tag"),
                    curator=curator,
                    ip=self.client_address[0],
                    text=body.get("text"),
                    ev_hash=body.get("ev_hash"),
                    source=body.get("source", "DB REST API"),
                    pa_json=body.get("pa_json"),
                    ev_json=body.get("ev_json"),
                    pa_statements=pa_statements,
                )
            except BadHashError as e:
                self._send(400, {"error": f"Invalid hash: {e.mk_hash}"})
                return
            self._send(200, {"result": "success", "ref": {"id": cid}})

    return Handler


def serve(
    lake,
    host: str = "127.0.0.1",
    port: int = 0,
    curation: CurationStore | None = None,
    pa_statements=None,
    grounder=None,
    stats=None,
    stage_store=None,
) -> ThreadingHTTPServer:
    """Start the shim on a daemon thread; returns the server (use
    ``server.server_address`` for the bound port, ``.shutdown()`` to stop)."""
    server = ThreadingHTTPServer(
        (host, port),
        make_handler(lake, curation, pa_statements, grounder, stats, stage_store),
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
