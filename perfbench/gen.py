"""Seeded synthetic statement corpus and REST request mix.

The program under test receives only what this module generates: principal
input rows (text_ref, text_content, reading, db_info, raw_statements,
mesh_ref_annotations), ontology edges, and a request list.  The generator
also keeps the model those rows came from, so the benchmark can check the
build against what it knows to be true (unique statements, evidence rows).

Shape of the corpus (all ratios hold at every ``n_raw``):

- about ``RAW_PER_UNIQUE`` raw statements per unique statement;
- genes, families and chemicals drawn Zipf-skewed, so hub agents sit in a
  large share of statements and tail agents in a handful;
- gene -> family NAME ontology edges, plus family-level "general" copies
  of some gene statements and Phosphorylations with and without
  residue/position, so that refinement finds pairs;
- Phosphorylation/Activation/Inhibition, Complex and unary ActiveForm;
- HGNC/FPLX/CHEBI (and some TEXT) agent groundings;
- three readers (one of them medscan), two knowledge bases, and some
  statements supported by medscan alone, so the censor removes rows;
- papers with MeSH term and concept annotations;
- stale-reader-version readings whose raw statements distill must drop.
"""

from __future__ import annotations

import json
import random
from bisect import bisect
from dataclasses import dataclass, field
from itertools import accumulate

RAW_PER_UNIQUE = 4
#: agents per unique statement (2000 agents at 25 000 unique statements)
AGENTS_PER_UNIQUE = 0.08
ZIPF_S = 1.05
READERS = ("reach", "sparser", "medscan")
KNOWLEDGE_BASES = ("signor", "pc")
#: evidence source mix for statements that are not medscan-only
SOURCE_WEIGHTS = {"reach": 50, "sparser": 25, "medscan": 8, "signor": 10, "pc": 7}
MEDSCAN_ONLY_SHARE = 0.06
STALE_READING_SHARE = 0.25
TYPE_WEIGHTS = {
    "Phosphorylation": 25,
    "Activation": 25,
    "Inhibition": 20,
    "Complex": 15,
    "ActiveForm": 15,
}
TWO_AGENT_TYPES = ("Phosphorylation", "Activation", "Inhibition")
ACTIVITIES = ("kinase", "activity", "transcription")
RESIDUES = ("S", "T", "Y")


@dataclass(frozen=True)
class Agent:
    name: str
    groundings: tuple  # ((namespace, id), ...), NAME first


@dataclass
class Statement:
    type: str
    agents: tuple  # Agent indices
    residue: str | None = None
    position: str | None = None
    activity: str | None = None
    is_active: bool | None = None
    #: (source, paper index or None) per kept raw statement
    evidence: list = field(default_factory=list)

    def key(self) -> tuple:
        return (self.type, self.agents, self.residue, self.position,
                self.activity, self.is_active)


@dataclass
class Corpus:
    seed: int
    n_raw_target: int
    agents: list[Agent]
    statements: list[Statement]
    ontology: list[tuple[str, str]]
    tables: dict[str, list[dict]]
    #: per agent index: its Zipf weight (request draws reuse it)
    agent_weights: list[float]
    #: pmids of papers that carry reader evidence
    read_pmids: list[str]

    @property
    def n_unique(self) -> int:
        return len(self.statements)

    @property
    def n_evidence(self) -> int:
        return sum(len(s.evidence) for s in self.statements)

    @property
    def n_raw(self) -> int:
        return len(self.tables["raw_statements"])

    @property
    def raw_json_bytes(self) -> int:
        return sum(len(r["json"]) for r in self.tables["raw_statements"])


def _make_agents(n_agents: int) -> tuple[list[Agent], list[tuple[str, str]]]:
    n_fam = max(2, n_agents // 20)
    n_chem = max(2, n_agents // 10)
    n_gene = max(4, n_agents - n_fam - n_chem)
    agents, ontology = [], []
    for i in range(n_gene):
        g = (("NAME", f"G{i}"), ("HGNC", str(1000 + i)))
        if i % 5 == 0:
            g += (("TEXT", f"g{i}-text"),)
        agents.append(Agent(f"G{i}", g))
        ontology.append((f"G{i}", f"FAM{i % n_fam}"))
    for j in range(n_fam):
        agents.append(Agent(f"FAM{j}", (("NAME", f"FAM{j}"), ("FPLX", f"FAM{j}"))))
    for k in range(n_chem):
        agents.append(
            Agent(f"CHEM{k}", (("NAME", f"CHEM{k}"), ("CHEBI", f"CHEBI:{5000 + k}")))
        )
    return agents, ontology


def _statement_json(agents: list[Agent], s: Statement, ev: dict) -> bytes:
    d: dict = {
        "type": s.type,
        "agents": [agents[a].name for a in s.agents],
        "agent_groundings": [dict(agents[a].groundings) for a in s.agents],
    }
    if s.residue is not None:
        d["residue"] = s.residue
        d["position"] = s.position
    if s.activity is not None:
        d["activity"] = s.activity
        d["is_active"] = s.is_active
    d["evidence"] = [ev]
    return json.dumps(d).encode()


def generate(seed: int, n_raw: int) -> Corpus:
    """A corpus of about ``n_raw`` kept raw statements (plus stale
    distractors) — the same seed always gives identical rows."""
    rng = random.Random(seed)
    n_unique_target = max(8, n_raw // RAW_PER_UNIQUE)
    n_agents = max(40, int(n_unique_target * AGENTS_PER_UNIQUE))
    agents, ontology = _make_agents(n_agents)
    family_of = {c: p for c, p in ontology}
    index_of = {a.name: i for i, a in enumerate(agents)}

    # Zipf over a seeded permutation: which agents are hubs depends on the
    # seed, the skew does not
    order = list(range(len(agents)))
    rng.shuffle(order)
    weights = [0.0] * len(agents)
    for rank, a in enumerate(order):
        weights[a] = 1.0 / (rank + 1) ** ZIPF_S
    cum = list(accumulate(weights))
    gene_chem = [i for i, a in enumerate(agents) if not a.name.startswith("FAM")]
    cum_gc = list(accumulate(weights[i] for i in gene_chem))

    def draw(pool_cum=cum, pool=None) -> int:
        i = bisect(pool_cum, rng.random() * pool_cum[-1])
        i = min(i, len(pool_cum) - 1)
        return pool[i] if pool is not None else i

    types = list(TYPE_WEIGHTS)
    cum_types = list(accumulate(TYPE_WEIGHTS.values()))
    stmts: list[Statement] = []
    seen: set[tuple] = set()

    def add(s: Statement) -> bool:
        k = s.key()
        if k in seen:
            return False
        seen.add(k)
        stmts.append(s)
        return True

    while len(stmts) < n_unique_target:
        t = types[min(bisect(cum_types, rng.random() * cum_types[-1]), 4)]
        if t == "ActiveForm":
            s = Statement(t, (draw(),), activity=rng.choice(ACTIVITIES),
                          is_active=rng.random() < 0.7)
            add(s)
            continue
        if t == "Complex":
            n = 3 if rng.random() < 0.1 else 2
            members = {draw() for _ in range(n)}
            if len(members) < 2:
                continue
            add(Statement(t, tuple(sorted(members, key=lambda a: agents[a].name))))
            continue
        # two-agent types draw genes/chemicals, so family generalisations
        # below are the only family statements
        a, b = draw(cum_gc, gene_chem), draw(cum_gc, gene_chem)
        if a == b:
            continue
        s = Statement(t, (a, b))
        if t == "Phosphorylation" and rng.random() < 0.4:
            s.residue = rng.choice(RESIDUES)
            s.position = str(rng.randint(10, 900))
            if not add(s):
                continue
            # the detail-free form, refined by the detailed one
            if rng.random() < 0.5 and len(stmts) < n_unique_target:
                add(Statement(t, (a, b)))
            continue
        if not add(s):
            continue
        # a family-level general statement refined by this gene statement
        gene = agents[a].name
        if gene in family_of and rng.random() < 0.15 and len(stmts) < n_unique_target:
            add(Statement(t, (index_of[family_of[gene]], b)))

    # evidence: how many raw statements support each unique statement
    n_papers = max(20, n_raw // 8)
    src_names = list(SOURCE_WEIGHTS)
    cum_src = list(accumulate(SOURCE_WEIGHTS.values()))
    for s in stmts:
        k = 1
        while rng.random() < 0.75 and k < 60:  # geometric, mean 4
            k += 1
        medscan_only = rng.random() < MEDSCAN_ONLY_SHARE
        for _ in range(k):
            src = "medscan" if medscan_only else src_names[
                min(bisect(cum_src, rng.random() * cum_src[-1]), len(src_names) - 1)
            ]
            paper = rng.randrange(n_papers) if src in READERS else None
            s.evidence.append((src, paper))

    tables = _principal_rows(rng, agents, stmts, n_papers)
    read_pmids = sorted(
        {_pmid(p) for s in stmts for src, p in s.evidence if p is not None}
    )
    return Corpus(seed, n_raw, agents, stmts, ontology, tables, weights, read_pmids)


def _pmid(paper: int) -> str:
    return str(10_000_000 + paper)


def _rid(paper: int, reader: str, stale: bool = False) -> int:
    return (paper + 1) * 100 + READERS.index(reader) + (10 if stale else 0)


def _principal_rows(rng, agents, stmts, n_papers) -> dict[str, list[dict]]:
    t: dict[str, list[dict]] = {
        k: [] for k in ("text_ref", "text_content", "reading", "db_info",
                        "raw_statements", "mesh_ref_annotations")
    }
    for p in range(n_papers):
        trid = p + 1
        pmid = _pmid(p)
        has_pmc = p % 2 == 0
        t["text_ref"].append({
            "trid": trid, "pmid": pmid, "pmid_num": int(pmid),
            "pmcid": f"PMC{700000 + p}" if has_pmc else None,
            "pmcid_num": 700000 + p if has_pmc else None,
            "pmcid_version": None, "doi": f"10.1000/p{p}", "doi_ns": 1000,
            "doi_id": f"p{p}", "pii": None, "url": None, "manuscript_id": None,
        })
        t["text_content"].append({
            "tcid": trid * 10, "text_ref_id": trid, "source": "pubmed",
            "format": "text", "text_type": "abstract", "preprint": False,
        })
        n_terms = rng.randint(1, 3)
        terms = {int(60 * rng.random() ** 2) for _ in range(n_terms)}
        for m in sorted(terms):
            t["mesh_ref_annotations"].append({
                "pmid_num": int(pmid), "mesh_num": 1000 + m,
                "major_topic": m % 3 == 0, "is_concept": False,
            })
        if rng.random() < 0.3:
            t["mesh_ref_annotations"].append({
                "pmid_num": int(pmid), "mesh_num": 500 + rng.randrange(15),
                "major_topic": False, "is_concept": True,
            })
    for i, kb in enumerate(KNOWLEDGE_BASES):
        t["db_info"].append({"id": i + 1, "db_name": kb,
                             "db_full_name": kb.upper(), "source_api": kb})

    sid = 0
    readings: set[tuple[int, str]] = set()
    read_by: dict[tuple[int, str], list[int]] = {}
    for si, s in enumerate(stmts):
        for src, paper in s.evidence:
            sid += 1
            ev = {"source_api": src, "text": f"evidence sentence {sid}",
                  "pmid": _pmid(paper) if paper is not None else None}
            raw = {
                "sid": sid, "uuid": f"u{sid}", "batch_id": 1, "mk_hash": 0,
                "source_hash": (sid * 2654435761) % (1 << 62),
                "reading_id": None, "db_info_id": None, "type": s.type,
                "json": _statement_json(agents, s, ev),
            }
            if paper is None:
                raw["db_info_id"] = KNOWLEDGE_BASES.index(src) + 1
            else:
                raw["reading_id"] = _rid(paper, src)
                readings.add((paper, src))
                read_by.setdefault((paper, src), []).append(si)
            t["raw_statements"].append(raw)

    for paper, reader in sorted(readings):
        t["reading"].append({
            "rid": _rid(paper, reader), "text_content_id": (paper + 1) * 10,
            "reader": reader, "reader_version": "2.0", "batch_id": 1,
        })
    # stale distractors: an older version of the same reader on the same
    # content, re-extracting statements the current reading also found
    for paper, reader in sorted(readings):
        if rng.random() >= STALE_READING_SHARE:
            continue
        rid = _rid(paper, reader, stale=True)
        t["reading"].append({
            "rid": rid, "text_content_id": (paper + 1) * 10, "reader": reader,
            "reader_version": "1.0", "batch_id": 0,
        })
        for si in read_by[(paper, reader)][:2]:
            sid += 1
            s = stmts[si]
            ev = {"source_api": reader, "text": f"stale sentence {sid}",
                  "pmid": _pmid(paper)}
            t["raw_statements"].append({
                "sid": sid, "uuid": f"u{sid}", "batch_id": 0, "mk_hash": 0,
                "source_hash": (sid * 2654435761) % (1 << 62),
                "reading_id": rid, "db_info_id": None, "type": s.type,
                "json": _statement_json(agents, s, ev),
            })
    return t


# ------------------------------------------------------------ request mix

#: requests of each read class per block of 20 (35/15/10/10/15/10/5 %)
READ_MIX = {
    "stmt_agents": 7,
    "hashes_subj_obj": 3,
    "relations": 2,
    "agents": 2,
    "stmt_hash": 3,
    "stmt_papers": 2,
    "query_or_not": 1,
}
LIMIT = 50
EV_LIMIT = 10


@dataclass
class Request:
    """One REST call plus what its answer must satisfy."""

    kind: str
    method: str
    path: str
    body: dict | None = None
    #: agent names (NAME namespace) of which every statement must hold one
    any_agent: tuple = ()
    #: (namespace, id) grounding every statement must carry
    grounding: tuple | None = None
    stmt_type: str | None = None
    exclude_type: str | None = None
    mk_hash: int | None = None
    pmid: str | None = None
    subject: str | None = None
    object: str | None = None

    @property
    def is_statements(self) -> bool:
        return self.path.startswith(("/statements", "/query/statements"))

    @property
    def is_write(self) -> bool:
        return self.kind == "curate"


GOLDEN = (5 ** 0.5 - 1) / 2


def class_order(n: int) -> list[str]:
    """``n`` request classes in one fixed, smooth order (stride
    scheduling): every prefix holds each class in close to its
    :data:`READ_MIX` share, so a short run sends the same mix whatever the
    seed, and seeds differ only in what each request asks for."""
    total = sum(READ_MIX.values())
    done = dict.fromkeys(READ_MIX, 0)
    out = []
    for i in range(1, n + 1):
        k = max(READ_MIX, key=lambda k: READ_MIX[k] * i / total - done[k])
        done[k] += 1
        out.append(k)
    return out


class Quasi:
    """Golden-ratio sequence from a seeded start: any run of its draws
    covers [0, 1) evenly, so a short run's requests follow the intended
    skew closely rather than by luck of the seed."""

    def __init__(self, rng: random.Random):
        self.u = rng.random()

    def __call__(self) -> float:
        self.u = (self.u + GOLDEN) % 1.0
        return self.u


def make_requests(
    corpus: Corpus,
    hashes: list[int],
    n: int,
    seed: int,
    with_cur_counts: bool = False,
) -> list[Request]:
    """``n`` read requests drawn from :data:`READ_MIX` with Zipf agents.
    ``hashes`` are the built lake's statement hashes that survive the
    medscan censor (sorted), for the from-hash class."""
    rng = random.Random(seed * 7919 + 17)
    cum = list(accumulate(corpus.agent_weights))
    agents = corpus.agents
    # one quasi-random stream per use, so each class's agents follow the
    # Zipf skew closely in any prefix of the list
    streams = ("stmt", "rel", "agents", "query", "type", "ns", "pair", "hash", "paper")
    draws = {k: Quasi(rng) for k in streams}

    def agent(stream: str) -> Agent:
        u = draws[stream]() * cum[-1]
        return agents[min(bisect(cum, u), len(cum) - 1)]

    pairs = [s for s in corpus.statements if s.type in TWO_AGENT_TYPES]
    kinds = class_order(n)
    cur = "&with_cur_counts=true" if with_cur_counts else ""
    page = f"limit={LIMIT}&ev_limit={EV_LIMIT}"
    out = []
    for kind in kinds[:n]:
        if kind == "stmt_agents":
            a = agent("stmt")
            u = draws["type"]()
            # a third with type=, spread evenly over the types
            typ = list(TYPE_WEIGHTS)[int(u * 3 * len(TYPE_WEIGHTS))] if u < 1 / 3 else None
            ns, ident = a.groundings[1] if draws["ns"]() < 0.2 else a.groundings[0]
            spec = ident if ns == "NAME" else f"{ident}@{ns}"
            tq = f"&type={typ}" if typ else ""
            out.append(Request(
                kind, "GET", f"/statements/from_agents?agent={spec}{tq}&{page}{cur}",
                grounding=(ns, ident), stmt_type=typ,
            ))
        elif kind == "hashes_subj_obj":
            s = pairs[int(draws["pair"]() * len(pairs))]
            subj, obj = agents[s.agents[0]].name, agents[s.agents[1]].name
            out.append(Request(
                kind, "GET",
                f"/hashes/from_agents?subject={subj}&object={obj}&limit={LIMIT}",
                subject=subj, object=obj,
            ))
        elif kind in ("relations", "agents"):
            a = agent("rel" if kind == "relations" else "agents").name
            out.append(Request(
                kind, "GET", f"/{kind}/from_agents?agent={a}&limit={LIMIT}",
                any_agent=(a,),
            ))
        elif kind == "stmt_hash":
            h = hashes[int(draws["hash"]() * len(hashes))]
            out.append(Request(
                kind, "GET", f"/statements/from_hash/{h}?ev_limit={EV_LIMIT}{cur}",
                mk_hash=h,
            ))
        elif kind == "stmt_papers":
            pmid = corpus.read_pmids[int(draws["paper"]() * len(corpus.read_pmids))]
            out.append(Request(
                kind, "POST", "/statements/from_papers" + cur.replace("&", "?", 1),
                body={"ids": [{"type": "pmid", "id": pmid}],
                      "limit": LIMIT, "ev_limit": EV_LIMIT},
                pmid=pmid,
            ))
        else:
            a, b = agent("query").name, agent("query").name
            q = {"and": [
                {"or": [{"class": "HasAgent", "agent_id": a},
                        {"class": "HasAgent", "agent_id": b}]},
                {"not": {"class": "HasType", "stmt_types": ["Complex"]}},
            ]}
            out.append(Request(
                kind, "POST", "/query/statements" + cur.replace("&", "?", 1),
                body={"query": q, "limit": LIMIT, "ev_limit": EV_LIMIT},
                any_agent=(a, b), exclude_type="Complex",
            ))
    return out


def make_curations(hashes: list[int], n: int, seed: int) -> list[Request]:
    """``n`` curation submits on seeded statement hashes."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for i in range(n):
        h = rng.choice(hashes)
        out.append(Request(
            "curate", "POST", f"/curation/submit/{h}",
            body={"tag": rng.choice(("correct", "grounding", "wrong_relation")),
                  "curator": f"curator{i % 7}@example.org",
                  "text": f"benchmark curation {i}"},
            mk_hash=h,
        ))
    return out
