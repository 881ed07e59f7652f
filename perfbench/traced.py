"""Traced run: where a request's and a release build's time goes, by layer.

Two parts, both over the workload's seeded inputs, serving first (it
warms the JVM the build then runs in, as a build server's would be):

1. One client, serially, over the workload's request list against the
   cached served release.  Each request runs twice: once as direct calls
   into the layers (params fold and censor, ``Query.hashes``, the
   ``plans.shaping`` call, curation counts), each in a span, and once over
   HTTP through ``service.rest``; the order alternates per request.  The
   difference is the REST layer's own cost.  Direct ``lake.pruned`` calls
   with each request's keys time the manifest prune.
2. ``run_assembly`` over the ``--seed`` corpus with each stage drained in
   pipeline order: the stage functions it calls are wrapped, from here,
   so each result is persisted and counted inside its own span.  The
   readonly tables are built but not drained, so ``readonly.s`` is their
   construction; their compute, like ``write_txlog``, is left out (the
   write alone costs about a minute of Spark jobs, which a traced run
   cannot spend on top of serving).

Spans are kept in memory; each records name, start, end, parent, request
id and the window of Spark job ids submitted while it was open.  Spark
counters (stages, tasks, executor CPU, shuffle bytes, input rows) come
from the live UI REST API once, at the end, and are summed over each
span's job window.

:data:`SHOULD_MOVE` names, for each per-layer metric, the end-to-end
metric a change in that layer should move.  The release build reaches
``setup_s`` only in a run that finds no cached served release (the first
in a checkout, or the first after the program changed).
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path
from urllib.parse import parse_qs, urlparse

SHOULD_MOVE = {
    "params.fold_s": "read_mean_s",
    "rest.overhead_s": "read_mean_s",
    "rest.response_kb": "read_mean_s",
    "queries.plan_s": "read_mean_s",
    "queries.files_read": "read_mean_s",
    "queries.files_total": "read_mean_s",
    "queries.files_read_ratio": "read_mean_s",
    "shaping.get_statements_s": "read_mean_s",
    "shaping.get_hashes_s": "read_mean_s",
    "shaping.get_relations_s": "read_mean_s",
    "shaping.get_agents_s": "read_mean_s",
    "shaping.jobs_per_req": "req_per_s",
    "shaping.stages_per_req": "req_per_s",
    "shaping.tasks_per_req": "cpu_s_per_req",
    "shaping.exec_cpu_s_per_req": "cpu_s_per_req",
    "shaping.input_rows_per_result": "req_per_s",
    "lake.open_s": "setup_s",
    "lake.pruned_s": "read_mean_s",
    "distill.s": "setup_s",
    "preprocess.s": "setup_s",
    "dedup.s": "setup_s",
    "agents.s": "setup_s",
    "refinement.s": "setup_s",
    "belief.s": "setup_s",
    "readonly.s": "setup_s",
    "assembly.jobs": "setup_s",
    "assembly.tasks": "setup_s",
    "assembly.shuffle_write_mb": "setup_s",
    "assembly.exec_cpu_s": "setup_s",
    "assembly.raw_per_s": "setup_s",
    "curation.submit_s": "req_per_s",
    "curation.counts_s": "read_mean_s",
    "curation.log_files": "read_mean_s",
    "trace.overhead_s": "read_mean_s",
}

#: assembly stage functions as ``run_assembly`` calls them, by span name
STAGES = {
    "distill": "distill_readings",
    "preprocess": "preprocess_statements",
    "dedup": "dedup_statements",
    "agents": "extract_agent_rows",
    "refinement": "refinement_pairs",
    "belief": "belief_scores",
    "readonly": "build_readonly",
}
#: direct curation submits in a serve_reads traced run (serve_curate
#: interleaves one after every READS_PER_WRITE reads instead)
SUBMITS = 5
READS_PER_WRITE = 3
PAGE_KEYS = ("limit", "offset", "ev_limit", "sort_by", "medscan", "format")


class Tracer:
    """In-memory spans with Spark job-id windows."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.req: int | None = None
        #: seconds spent in span bookkeeping
        self.overhead = 0.0

    def next_job(self) -> int:
        return self._dag.numTotalJobs()

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans), "name": name, "req": self.req,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "job_lo": self.next_job(),
        }
        self.spans.append(rec)
        self.stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead += rec["start"] - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = t_out
            rec["job_hi"] = self.next_job()
            self.stack.pop()
            self.overhead += time.perf_counter() - t_out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return dur(span) - sum(dur(k) for k in kids)


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class SparkCounters:
    """Per-job counters from the live UI REST API."""

    def __init__(self, sc, last_job: int):
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        for _ in range(50):  # the UI listener lags the scheduler
            jobs = _get(base + "/jobs")
            if last_job < 0 or any(j["jobId"] >= last_job for j in jobs):
                break
            time.sleep(0.2)
        self.stages_of = {j["jobId"]: j["stageIds"] for j in jobs}
        self.stage = {}
        for s in _get(base + "/stages"):
            self.stage[(s["stageId"], s["attemptId"])] = s

    def total(self, spans: list[dict]) -> dict:
        jobs = set()
        for s in spans:
            jobs.update(range(s["job_lo"], s["job_hi"]))
        stage_ids = {sid for j in jobs for sid in self.stages_of.get(j, ())}
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "input_rows": 0}
        for (sid, _), st in self.stage.items():
            if sid not in stage_ids or st.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.get("numCompleteTasks", 0)
            out["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            out["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            out["input_rows"] += st.get("inputRecords", 0)
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


# ------------------------------------------------------------------ build


def traced_build(spark, tracer: Tracer, corpus, work: Path) -> dict:
    """``run_assembly`` with every stage drained in its own span; returns
    its frames (pass them to ``engine.release``)."""
    import engine
    from indra_db_spark.assembly import pipeline

    principal, ontology = engine.write_principal(spark, corpus, work / "build-input")
    originals = {fn: getattr(pipeline, fn) for fn in STAGES.values()}

    def drained(name, fn):
        def call(*a, **kw):
            with tracer.span(name):
                out = fn(*a, **kw)
                if name != "readonly":
                    out.persist().count()
            return out
        return call

    try:
        for name, fn in STAGES.items():
            setattr(pipeline, fn, drained(name, originals[fn]))
        with tracer.span("assembly"):
            return pipeline.run_assembly(principal, ontology)
    finally:
        for fn, orig in originals.items():
            setattr(pipeline, fn, orig)


# ------------------------------------------------------------------ serve


def web_params(qs: dict) -> dict:
    """Query-string values as the REST front end hands them to
    ``query_from_web_params``."""
    return {k: v if len(v) > 1 else v[0] for k, v in qs.items() if k not in PAGE_KEYS}


class Direct:
    """The layers a REST request passes through, called directly."""

    def __init__(self, tracer: Tracer, lake, store, pa_statements):
        self.t = tracer
        self.lake = lake
        self.store = store
        self.pa = pa_statements

    def fold(self, req):
        """(result type, query, evidence filter) the way REST folds them."""
        from indra_db_spark.plans.queries import FromPapers, HasHash
        from indra_db_spark.plans.shaping import EvidenceFilter
        from indra_db_spark.service.params import (
            apply_medscan_censor,
            query_from_simple_json,
            query_from_web_params,
        )

        url = urlparse(req.path)
        parts = url.path.strip("/").split("/")
        evf = None
        with self.t.span("params"):
            if req.kind == "stmt_hash":
                q = HasHash([int(parts[2])])
            elif req.kind == "stmt_papers":
                papers = [(d["type"], d["id"]) for d in req.body["ids"]]
                q, evf = FromPapers(papers), EvidenceFilter.from_papers(papers)
            elif req.kind == "query_or_not":
                q = query_from_simple_json(req.body["query"])
            else:
                q, evf = query_from_web_params(web_params(parse_qs(url.query)))
            q = apply_medscan_censor(q, has_medscan=False)
        kind = parts[1] if parts[0] == "query" else parts[0]
        return kind, q, evf, parse_qs(url.query)

    def read(self, req) -> tuple[int, set]:
        """Run one read; returns (results, statement hashes or empty)."""
        from gen import EV_LIMIT, LIMIT
        from indra_db_spark.plans import shaping

        kind, q, evf, qs = self.fold(req)
        with self.t.span("queries.plan"):
            q.hashes(self.lake)
        if kind == "statements":
            with self.t.span("shaping.get_statements"):
                out = shaping.get_statements(
                    q, self.lake, limit=LIMIT, ev_limit=EV_LIMIT, evidence_filter=evf
                ).json()
            if qs.get("with_cur_counts") == ["true"]:
                self.counts([int(h) for h in out["statements"]])
            return len(out["statements"]), set(out["statements"])
        if kind == "hashes":
            with self.t.span("shaping.get_hashes"):
                rows = shaping.get_hashes(q, self.lake, limit=LIMIT).collect()
        elif kind == "relations":
            with self.t.span("shaping.get_relations"):
                rows = shaping.get_relations(q, self.lake, limit=LIMIT).toJSON().collect()
        else:
            with self.t.span("shaping.get_agents"):
                df, _ = shaping.get_agents(q, self.lake, limit=LIMIT)
                rows = df.toJSON().collect()
                df.unpersist()
        return len(rows), set()

    def counts(self, page: list[int]) -> None:
        from pyspark.sql import functions as F

        from indra_db_spark.plans.principal import curation_counts

        with self.t.span("curation.counts"):
            curation_counts(self.store.df().filter(F.col("pa_hash").isin(page))).collect()

    def prune(self, req) -> None:
        """Direct ``lake.pruned`` calls with the request's keys."""
        probes = []
        if req.mk_hash is not None and not req.is_write:
            probes.append(("source_meta", {"mk_hash": [req.mk_hash]}))
        if req.pmid is not None:
            probes.append(("reading_ref_link", {"pmid_num": [int(req.pmid)]}))
        if req.grounding is not None:
            ns, ident = req.grounding
            probes.append(("name_meta" if ns == "NAME" else "other_meta", {"db_id": [ident]}))
        for name in filter(None, (req.subject, req.object) + req.any_agent):
            probes.append(("name_meta", {"db_id": [name]}))
        for table, eq in probes:
            with self.t.span("lake.pruned"):
                self.lake.pruned(table, eq=eq)

    def submit(self, req) -> None:
        with self.t.span("curation.submit"):
            self.store.submit(
                req.mk_hash, tag=req.body["tag"], curator=req.body["curator"],
                ip="127.0.0.1", text=req.body["text"], pa_statements=self.pa,
            )


def ops_of(reads: list, writes: list) -> list:
    if not writes:
        return reads
    out = []
    for i, r in enumerate(reads):
        out.append(r)
        if i % READS_PER_WRITE == READS_PER_WRITE - 1:
            out.append(writes[(i // READS_PER_WRITE) % len(writes)])
    return out


def run(spark, args, cpus: int, work: Path) -> tuple[dict, dict, object]:
    import clients
    import engine
    import gen
    from run import Checks, Served, corpus_summary, warm_pass
    from stats import metric

    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.plans.principal import CurationStore

    checks = Checks()
    tracer = Tracer(spark)
    t_run = time.perf_counter()

    # ---- 1. serial serving, direct and over HTTP
    served = Served(spark, args)
    with tracer.span("lake.open"):
        lake = ReadonlyLake.from_txlog(spark, str(served.lake_root))
    server = engine.Server(spark, lake, work / "curation-http", served.pa_statements)
    direct = Direct(tracer, lake, CurationStore(spark, str(work / "curation-direct")),
                    served.pa_statements)
    # one of each shape first, so a short run still covers every layer
    ops = served.shapes() + ops_of(served.reads, served.writes)
    warm_pass(server.port, served.shapes())  # untraced

    http = []  # (op index, request, latency, body bytes, direct request span)
    kinds = {r.kind for r in ops}
    seen: set = set()
    deadline = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < deadline or seen != kinds:
        req = ops[i % len(ops)]
        tracer.req = i
        lake.prune_log.clear()

        def over_http():
            t0 = time.perf_counter()
            status, body = clients.send(server.port, req)
            res = clients.Result(req, i, -1, status, body, t0, time.perf_counter())
            if req.is_write:
                checks(f"{req.kind} {req.path}", clients.check_write(res)[0])
            else:
                checks(f"{req.kind} {req.path}",
                       clients.check_read(res, with_cur_counts=served.curate))
            return res

        res = over_http() if i % 2 else None
        with tracer.span("request") as span:
            if req.is_write:
                direct.submit(req)
            else:
                n, got = direct.read(req)
        span["prunes"] = list(lake.prune_log)
        direct.prune(req)
        if res is None:
            res = over_http()
        if not req.is_write:
            span["results"] = n
            if got and res.status == 200:
                want = set(json.loads(res.body)["statements"])
                checks(f"direct = http {req.path}", [] if got == want else ["pages differ"])
        http.append((req, res, span))
        seen.add(req.kind)
        i += 1
    tracer.req = None
    if not served.writes:
        subs = gen.make_curations(sorted(served.hashes), SUBMITS, args.seed)
        for req in subs:
            direct.submit(req)
        for req in subs:
            direct.counts([req.mk_hash])
    server.close()

    # ---- 2. the assembly, stage by stage
    corpus = gen.generate(args.seed, args.n_raw)
    out = traced_build(spark, tracer, corpus, work)
    sm = out["source_meta"]
    checks.equal("build unique statements", sm.count(), corpus.n_unique)
    checks.equal("build evidence rows", out["fast_raw_pa_link"].count(), corpus.n_evidence)
    checks.equal("build statement hashes", {r.mk_hash for r in sm.select("mk_hash").collect()},
                 set(engine.statement_hashes(corpus)))
    pairs = out["pa_support_links"].count()
    checks("refinement pairs", [] if pairs else ["pa_support_links is empty"])
    engine.release(out)

    counters = SparkCounters(spark.sparkContext, tracer.next_job() - 1)
    wall = time.perf_counter() - t_run

    # ---- metrics
    t = tracer
    read_spans = [s for _, _, s in http if "results" in s]
    stage_spans = [x for name in STAGES for x in t.named(name)]
    asm = counters.total(stage_spans)
    shaping = [s for s in t.spans if s["name"].startswith("shaping.")]
    shp = counters.total(shaping)
    results = sum(s["results"] for s in read_spans)
    prunes = [p for s in read_spans for p in s["prunes"]]
    assembly_s = dur(t.named("assembly")[0])
    per_req = max(len(read_spans), 1)

    # the direct path plans the query once more than REST does
    plan = {s["req"]: dur(s) for s in t.named("queries.plan")}
    rest_overhead = [
        res.latency - (dur(s) - plan.get(s["req"], 0.0))
        for _, res, s in http if "results" in s
    ]

    def avg(name):
        return mean(dur(s) for s in t.named(name))

    m = {
        "params.fold_s": (avg("params"), "s"),
        "rest.overhead_s": (statistics.median(rest_overhead), "s"),
        "rest.response_kb": (mean(len(res.body) / 1024 for _, res, s in http), "KB"),
        "queries.plan_s": (avg("queries.plan"), "s"),
        "queries.files_read": (mean(sum(p[1] for p in s["prunes"]) for s in read_spans), "count"),
        "queries.files_total": (mean(sum(p[2] for p in s["prunes"]) for s in read_spans), "count"),
        "queries.files_read_ratio": (
            sum(p[1] for p in prunes) / max(sum(p[2] for p in prunes), 1), "ratio"),
        "shaping.get_statements_s": (avg("shaping.get_statements"), "s"),
        "shaping.get_hashes_s": (avg("shaping.get_hashes"), "s"),
        "shaping.get_relations_s": (avg("shaping.get_relations"), "s"),
        "shaping.get_agents_s": (avg("shaping.get_agents"), "s"),
        "shaping.jobs_per_req": (shp["jobs"] / per_req, "count"),
        "shaping.stages_per_req": (shp["stages"] / per_req, "count"),
        "shaping.tasks_per_req": (shp["tasks"] / per_req, "count"),
        "shaping.exec_cpu_s_per_req": (shp["cpu_s"] / per_req, "s"),
        "shaping.input_rows_per_result": (shp["input_rows"] / max(results, 1), "ratio"),
        "lake.open_s": (avg("lake.open"), "s"),
        "lake.pruned_s": (avg("lake.pruned"), "s"),
        **{f"{name}.s": (sum(dur(x) for x in t.named(name)), "s") for name in STAGES},
        "assembly.jobs": (asm["jobs"], "count"),
        "assembly.tasks": (asm["tasks"], "count"),
        "assembly.shuffle_write_mb": (asm["shuffle_write_mb"], "MB"),
        "assembly.exec_cpu_s": (asm["cpu_s"], "s"),
        "assembly.raw_per_s": (corpus.n_raw / assembly_s, "1/s"),
        "curation.submit_s": (avg("curation.submit"), "s"),
        "curation.counts_s": (avg("curation.counts"), "s"),
        "curation.log_files": (engine.parquet_files(work / "curation-direct"), "count"),
        "trace.overhead_s": (t.overhead / max(len(http), 1), "s"),
    }
    metrics = {k: metric(v, u) for k, (v, u) in m.items()}
    summary = {
        "traced_ops": len(http),
        "traced_wall_s": wall,
        "trace_overhead_share": t.overhead / wall,
        "assembly_s": assembly_s,
        "assembly_spark": asm,
        "distill.kept_per_raw": corpus.n_evidence / corpus.n_raw,
        "dedup.unique_per_raw": corpus.n_unique / corpus.n_raw,
        "refinement.pairs": pairs,
        "spans": len(t.spans),
        "self_time_s": {
            name: sum(t.self_time(s) for s in t.named(name))
            for name in sorted({s["name"] for s in t.spans})
        },
        "corpus": corpus_summary(corpus),
    }
    return metrics, summary, checks
