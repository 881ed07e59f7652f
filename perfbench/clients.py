"""Closed-loop HTTP clients and the per-response correctness checks.

Each client sends its next request only after the previous one returned
(callers that wait for their reply).  Bodies are kept and checked after
the timed window, so checking costs the server nothing while it is
measured.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from dataclasses import dataclass

from gen import EV_LIMIT, LIMIT, Request

REQUEST_TIMEOUT_S = 60


@dataclass
class Result:
    req: Request
    index: int  # position in the request list
    client: int  # closed-loop client that sent it (-1: none)
    status: int  # 0 = transport failure
    body: bytes
    t0: float
    t1: float

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


def send(port: int, req: Request) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        body = json.dumps(req.body).encode() if req.body is not None else None
        headers = {"Content-Type": "application/json"} if body is not None else {}
        conn.request(req.method, req.path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except OSError as e:
        return 0, str(e).encode()
    finally:
        conn.close()


class _Feed:
    """Hands out the request list in order, wrapping around, to any
    number of clients."""

    def __init__(self, reqs: list[Request]):
        self.reqs = reqs
        self.i = 0
        self.lock = threading.Lock()

    def next(self) -> tuple[int, Request]:
        with self.lock:
            i = self.i
            self.i += 1
        return i, self.reqs[i % len(self.reqs)]


def closed_loop(
    port: int,
    reads: list[Request],
    writes: list[Request],
    read_clients: int,
    write_clients: int,
    seconds: float,
) -> tuple[list[Result], float]:
    """Run the clients for ``seconds``; requests in flight at the deadline
    complete and count.  Returns (results, start time)."""
    results: list[Result] = []
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds

    def client(feed: _Feed, cid: int) -> None:
        while time.perf_counter() < deadline:
            i, req = feed.next()
            t0 = time.perf_counter()
            status, body = send(port, req)
            r = Result(req, i, cid, status, body, t0, time.perf_counter())
            with lock:
                results.append(r)

    # one feed per request list, shared by that list's clients
    threads = []
    for reqs, n in ((reads, read_clients), (writes, write_clients)):
        if reqs and n:
            feed = _Feed(reqs)
            threads += [
                threading.Thread(target=client, args=(feed, len(threads) + c))
                for c in range(n)
            ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(seconds + 2 * REQUEST_TIMEOUT_S)
        if t.is_alive():
            raise RuntimeError("client thread did not finish")
    return results, start


def throughput(results: list[Result], start: float) -> float:
    """Completions per second, summed over clients, each client's over
    its own span from ``start`` to its last completion: no request is cut
    at the deadline, so the figure does not jump by whole requests."""
    last: dict[int, list[float]] = {}
    for r in results:
        last.setdefault(r.client, []).append(r.t1)
    return sum(len(ts) / (max(ts) - start) for ts in last.values())


# ----------------------------------------------------------------- checks


def _statement_ok(req: Request, h: str, stmt: dict) -> list[str]:
    out = []
    ev = stmt.get("evidence", [])
    if len(ev) > EV_LIMIT:
        out.append(f"{h}: {len(ev)} evidence > ev_limit")
    names = stmt.get("agents") or []
    groundings = stmt.get("agent_groundings") or []
    if req.grounding is not None:
        ns, ident = req.grounding
        if not any(g and g.get(ns) == ident for g in groundings):
            out.append(f"{h}: lacks agent {ns}:{ident}")
    if req.any_agent and not set(req.any_agent) & set(names):
        out.append(f"{h}: lacks any of {req.any_agent}")
    if req.stmt_type and stmt.get("type") != req.stmt_type:
        out.append(f"{h}: type {stmt.get('type')} != {req.stmt_type}")
    if req.exclude_type and stmt.get("type") == req.exclude_type:
        out.append(f"{h}: excluded type {req.exclude_type}")
    if req.pmid is not None:
        bad = [e for e in ev if (e.get("text_refs") or {}).get("PMID") != req.pmid]
        if bad or not ev:
            out.append(f"{h}: evidence outside paper {req.pmid}")
    return out


def check_read(res: Result, with_cur_counts: bool) -> list[str]:
    """Problems with one read response; empty when it is correct."""
    req = res.req
    if res.status != 200:
        return [f"HTTP {res.status}: {res.body[:200]!r}"]
    try:
        payload = json.loads(res.body)
    except ValueError:
        return ["response is not JSON"]
    out = []
    if req.is_statements:
        stmts = payload.get("statements")
        if not isinstance(stmts, dict):
            return ["no statements object"]
        if len(stmts) > LIMIT:
            out.append(f"{len(stmts)} statements > limit")
        if req.mk_hash is not None and set(stmts) != {str(req.mk_hash)}:
            out.append(f"from_hash page {sorted(stmts)} != [{req.mk_hash}]")
        for h, stmt in stmts.items():
            out += _statement_ok(req, h, stmt)
        if with_cur_counts and "num_curations" not in payload:
            out.append("with_cur_counts set but no num_curations")
        return out
    rows = payload.get("results")
    if not isinstance(rows, list):
        return ["no results list"]
    if len(rows) > LIMIT:
        out.append(f"{len(rows)} rows > limit")
    counts = [r.get("ev_count") for r in rows]
    if any(a < b for a, b in zip(counts, counts[1:])):
        out.append("ev_count increases down the page")
    has = [bool(set(req.any_agent) & set((r.get("agent_json") or {}).values())) for r in rows]
    if req.kind == "relations" and not all(has):
        out.append(f"relation row lacks any of {req.any_agent}")
    # the agents grain keeps Complex member pairs, which need not hold the
    # queried agent themselves
    if req.kind == "agents" and rows and not any(has):
        out.append(f"no agent-set row holds any of {req.any_agent}")
    return out


def check_write(res: Result) -> tuple[list[str], int | None]:
    """(problems, acknowledged curation id) of one submit response."""
    if res.status != 200:
        return [f"HTTP {res.status}: {res.body[:200]!r}"], None
    try:
        payload = json.loads(res.body)
        cid = int(payload["ref"]["id"])
    except (ValueError, KeyError, TypeError):
        return ["submit response lacks ref.id"], None
    if payload.get("result") != "success":
        return ["submit not acknowledged"], None
    return [], cid


def check_oracle(res: Result, oracle, type_nums: dict) -> list[str]:
    """Compare one response with DuckDB's answer over the lake files."""
    req = res.req
    payload = json.loads(res.body)
    out = []
    if req.kind == "hashes_subj_obj":
        got = [int(r["mk_hash"]) for r in payload["results"]]
        want = oracle.subj_obj_page(req.subject, req.object, LIMIT)
        if got != want:
            out.append(f"hash page differs from oracle ({len(got)} vs {len(want)})")
        return out
    stmts = payload["statements"]
    if req.kind == "stmt_agents":
        ns, ident = req.grounding
        want = oracle.agent_page(
            ns, ident, type_nums[req.stmt_type] if req.stmt_type else None, LIMIT
        )
        if sorted(int(h) for h in stmts) != sorted(want):
            out.append(f"statement page differs from oracle ({len(stmts)} vs {len(want)})")
    for h, stmt in stmts.items():
        n = oracle.ev_count(int(h))
        if n is None or len(stmt["evidence"]) != min(n, EV_LIMIT):
            out.append(f"{h}: {len(stmt['evidence'])} evidence, oracle ev_count {n}")
    return out
