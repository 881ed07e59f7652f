"""The compositional query algebra — same semantics and wire format as the
reference's Query tree (indra_db/client/readonly/query.py), compiled to
Spark DataFrame plans over a :class:`ReadonlyLake` instead of SQLAlchemy.

Every query produces the 3-column hash relation ``(mk_hash, ev_count,
belief)`` (reference: query.py:925-933 _base_query).  Algebraic
normalization happens at construction time exactly as in the reference
(SURVEY.md §4.1):

- empty/full constant propagation (query.py:353-359, :455-457)
- contradiction/tautology detection A&~A → empty, A|~A → full
  (query.py:2575-2584, :2845-2852)
- same-class list-leaf merging under & / | (query.py:1032-1058, :2737-2792)
- same-table conjunction collapse: all "predicate" leaves of an
  Intersection fold into ONE source_meta scan (query.py:1232-1345
  SourceIntersection)
- intrusive pushdown: HasType/HasNumAgents/HasNumEvidence/HasEvidenceBound
  filters are injected into every sibling branch's scan instead of running
  as separate intersect branches (query.py:2051-2143) — legal because every
  meta table carries type_num/agent_count/ev_count
- positive-EXCEPT-negative: negated multi-row leaves compile to ONE
  left_anti join against the intersected positives (query.py:2663-2709)

Spark notes: inversion of single-row-per-hash predicates is plain predicate
negation on the same scan (null-safe where needed) — only multi-row tables
(name/text/other_meta, mesh metas, paper links) need the anti-join against
the source_meta universe (query.py:1752-1765).
"""

from __future__ import annotations

import json
from abc import ABC, abstractmethod
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from indra_db_spark.operators.setops import keyed_intersect
from indra_db_spark.plans.lake import ReadonlyLake
from indra_db_spark.plans.txlog import isin
from indra_db_spark.schemas import ROLE_NUMS, TYPE_NUMS, expand_types

HASH_COLS = ["mk_hash", "ev_count", "belief"]

#: predicate applied to a meta-table scan (intrusive pushdown payload)
MetaPredicate = Callable[[], Column]


def _and_all(cols: Sequence[Column]) -> Column:
    out = None
    for c in cols:
        out = c if out is None else (out & c)
    return out if out is not None else F.lit(True)


class Query(ABC):
    """Base of the algebra.  Subclasses define a constraint; ``inverted``
    flips it.  Combine with ``&``, ``|``, ``~``, ``-``."""

    #: filters expressible on ANY meta table (pushed into sibling scans)
    is_intrusive = False
    #: filters expressible as a predicate on the one-row-per-hash
    #: source_meta scan (single-scan conjunction collapse)
    is_predicate = False

    def __init__(self, inverted: bool = False):
        self.inverted = bool(inverted)

    # ------------------------------------------------------------ algebra

    def __and__(self, other: "Query") -> "Query":
        return build_intersection([self, other])

    def __or__(self, other: "Query") -> "Query":
        return build_union([self, other])

    def __sub__(self, other: "Query") -> "Query":
        return build_intersection([self, other.invert()])

    def __invert__(self) -> "Query":
        return self.invert()

    def invert(self) -> "Query":
        clone = self.copy()
        clone.inverted = not self.inverted
        return clone

    def copy(self) -> "Query":
        return Query.from_json(self.to_json())

    # ------------------------------------------------------------- status

    def is_empty(self) -> bool:
        """Structurally guaranteed to match nothing."""
        return False

    def is_full(self) -> bool:
        """Structurally guaranteed to match every statement."""
        return False

    # -------------------------------------------------------------- serde

    @abstractmethod
    def _constraint_json(self) -> dict: ...

    def to_json(self) -> dict:
        return {
            "class": type(self).__name__,
            "inverted": self.inverted,
            "constraint": self._constraint_json(),
        }

    @staticmethod
    def from_json(d: dict) -> "Query":
        cls = QUERY_CLASSES[d["class"]]
        q = cls._from_constraint(d.get("constraint", {}))
        if d.get("inverted"):
            q = q.invert()
        return q

    @classmethod
    def _from_constraint(cls, constraint: dict) -> "Query":
        return cls(**constraint)

    def canonical(self) -> str:
        return json.dumps(self.to_json(), sort_keys=True)

    def __eq__(self, other) -> bool:
        return isinstance(other, Query) and self.canonical() == other.canonical()

    def __hash__(self) -> int:
        return hash(self.canonical())

    def is_inverse_of(self, other: "Query") -> bool:
        return self.invert() == other

    def __repr__(self) -> str:
        inv = "~" if self.inverted else ""
        return f"{inv}{type(self).__name__}({self._constraint_json()})"

    # ------------------------------------------------------------ compile

    def hashes(
        self, lake: ReadonlyLake, intrusives: Sequence[MetaPredicate] = ()
    ) -> DataFrame:
        """Distinct (mk_hash, ev_count, belief) matching this query AND all
        pushed-down intrusive predicates."""
        if self.is_empty():
            return lake.universe().filter(F.lit(False))
        if self.is_full():
            return _apply_preds(lake.universe(), intrusives)
        return self._hashes(lake, tuple(intrusives))

    @abstractmethod
    def _hashes(self, lake: ReadonlyLake, intrusives) -> DataFrame: ...


def _apply_preds(df: DataFrame, preds: Sequence[MetaPredicate]) -> DataFrame:
    for p in preds:
        df = df.filter(p())
    return df


# ===================================================================== leaves


class _PredicateQuery(Query):
    """Leaf answered by ONE filter over the one-row-per-hash source_meta
    scan.  Inversion is predicate negation (null-safe), never a join."""

    is_predicate = True

    @abstractmethod
    def _positive_predicate(self) -> Column: ...

    def _prune_hint(self) -> tuple[dict, dict]:
        """(eq, box) narrowing of the source_meta scan implied by the
        POSITIVE predicate — ``{col: IN-list}`` / ``{col: (lo, hi)}``,
        as :meth:`ReadonlyLake.pruned` takes them — so a txlog-served
        lake can answer the leaf through manifest stats instead of a
        full scan (the reference's clustered mk_hash / ev_count btrees,
        readonly_schema.py:635-637).  Empty when the predicate has no
        point or interval shape; ignored for inverted leaves, which
        cannot prune by inclusion evidence."""
        return {}, {}

    def source_predicate(self) -> Column:
        p = self._positive_predicate()
        return ~p if self.inverted else p

    def _hashes(self, lake, intrusives) -> DataFrame:
        eq, box = ({}, {}) if self.inverted else self._prune_hint()
        df = lake.pruned("source_meta", predicates=box, eq=eq).filter(
            self.source_predicate()
        )
        return _apply_preds(df, intrusives).select(*HASH_COLS)


class _IntrusiveQuery(_PredicateQuery):
    """Leaf whose predicate mentions only the shared sort/group columns
    (present on EVERY meta table) — safe to push into sibling scans
    (reference: query.py:2051-2143)."""

    is_intrusive = True

    def meta_predicate(self) -> Column:
        return self.source_predicate()


class EmptyQuery(Query):
    """Neutral starting element for folding web parameters into a query
    (reference: query.py:1081-1103).  Dropped by & and |; executing it
    alone yields nothing."""

    def is_empty(self) -> bool:
        return True

    def invert(self) -> "Query":
        raise ValueError("EmptyQuery has no inverse")

    def _constraint_json(self) -> dict:
        return {}

    def _hashes(self, lake, intrusives):  # pragma: no cover - is_empty short-circuits
        return lake.universe().filter(F.lit(False))


class HasHash(_PredicateQuery):
    """mk_hash ∈ list (reference: query.py:1520-1579)."""

    def __init__(self, stmt_hashes: Sequence[int], inverted: bool = False):
        super().__init__(inverted)
        self.stmt_hashes = sorted(set(int(h) for h in stmt_hashes))

    def is_empty(self) -> bool:
        return not self.stmt_hashes and not self.inverted

    def is_full(self) -> bool:
        return not self.stmt_hashes and self.inverted

    def _constraint_json(self) -> dict:
        return {"stmt_hashes": self.stmt_hashes}

    def _positive_predicate(self) -> Column:
        return isin("mk_hash", self.stmt_hashes)

    def _prune_hint(self) -> tuple[dict, dict]:
        # point lookups: mk_hash bloom words + range stats
        return {"mk_hash": self.stmt_hashes}, {}


class HasSources(_PredicateQuery):
    """Has evidence from ALL given sources; NULL (not 0) marks absence, so
    the inverse is an OR of IS NULL (reference: query.py:1399-1454)."""

    def __init__(self, sources: Sequence[str], inverted: bool = False):
        super().__init__(inverted)
        self.sources = sorted(set(str(s).lower() for s in sources))
        if not self.sources:
            raise ValueError("HasSources requires at least one source")

    def _constraint_json(self) -> dict:
        return {"sources": self.sources}

    def _positive_predicate(self) -> Column:
        return _and_all(
            [
                F.element_at(F.col("src_json"), s).isNotNull()
                for s in self.sources
            ]
        )

    def source_predicate(self) -> Column:
        if not self.inverted:
            return self._positive_predicate()
        # De Morgan with NULL care: absent key ⇒ null lookup ⇒ isNull
        out = None
        for s in self.sources:
            c = F.element_at(F.col("src_json"), s).isNull()
            out = c if out is None else (out | c)
        return out


class HasOnlySource(_PredicateQuery):
    """only_src equals the source, null-safely; inverse is the null-safe
    negation (IS DISTINCT FROM, reference: query.py:1356-1396)."""

    def __init__(self, only_source: str, inverted: bool = False):
        super().__init__(inverted)
        self.only_source = str(only_source).lower()

    def _constraint_json(self) -> dict:
        return {"only_source": self.only_source}

    def _positive_predicate(self) -> Column:
        return F.col("only_src").eqNullSafe(F.lit(self.only_source))


class HasReadings(_PredicateQuery):
    """has_rd boolean (reference: query.py:1457-1517)."""

    def __init__(self, inverted: bool = False):
        super().__init__(inverted)

    def _constraint_json(self) -> dict:
        return {}

    def _positive_predicate(self) -> Column:
        return F.col("has_rd")


class HasDatabases(_PredicateQuery):
    """has_db boolean (reference: query.py:1457-1517)."""

    def __init__(self, inverted: bool = False):
        super().__init__(inverted)

    def _constraint_json(self) -> dict:
        return {}

    def _positive_predicate(self) -> Column:
        return F.col("has_db")


class HasType(_IntrusiveQuery):
    """type_num ∈ set, with optional subclass expansion
    (reference: query.py:2307-2362)."""

    def __init__(
        self,
        stmt_types: Sequence[str],
        include_subclasses: bool = False,
        inverted: bool = False,
    ):
        super().__init__(inverted)
        self.stmt_types = expand_types(list(stmt_types), include_subclasses)

    def is_empty(self) -> bool:
        return not self.stmt_types and not self.inverted

    def is_full(self) -> bool:
        return not self.stmt_types and self.inverted

    def _constraint_json(self) -> dict:
        return {"stmt_types": self.stmt_types}

    def _positive_predicate(self) -> Column:
        nums = [TYPE_NUMS[t] for t in self.stmt_types if t in TYPE_NUMS]
        return isin("type_num", nums)


class HasNumAgents(_IntrusiveQuery):
    """agent_count ∈ list (reference: query.py:2146-2204)."""

    def __init__(self, agent_nums: Sequence[int], inverted: bool = False):
        super().__init__(inverted)
        self.agent_nums = sorted(set(int(n) for n in agent_nums))

    def is_empty(self) -> bool:
        return not self.agent_nums and not self.inverted

    def is_full(self) -> bool:
        return not self.agent_nums and self.inverted

    def _constraint_json(self) -> dict:
        return {"agent_nums": self.agent_nums}

    def _positive_predicate(self) -> Column:
        return isin("agent_count", self.agent_nums)


class HasNumEvidence(_IntrusiveQuery):
    """ev_count ∈ list (reference: query.py:2146-2204)."""

    def __init__(self, evidence_nums: Sequence[int], inverted: bool = False):
        super().__init__(inverted)
        self.evidence_nums = sorted(set(int(n) for n in evidence_nums))

    def is_empty(self) -> bool:
        return not self.evidence_nums and not self.inverted

    def is_full(self) -> bool:
        return not self.evidence_nums and self.inverted

    def _constraint_json(self) -> dict:
        return {"evidence_nums": self.evidence_nums}

    def _positive_predicate(self) -> Column:
        return isin("ev_count", self.evidence_nums)

    def _prune_hint(self) -> tuple[dict, dict]:
        # a file/segment is admitted only when SOME listed count falls
        # inside its ev_count [min, max]: under the ranked layout a
        # sparse count list opens few files
        return {"ev_count": self.evidence_nums}, {}


_BOUND_OPS = {
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "=": lambda c, v: c == v,
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
}
def _parse_bound(spec) -> tuple[str, int]:
    """Parse '< 10' / ('<=', 5) into (op, value) (reference Bound parser,
    query.py:2207-2260)."""
    if isinstance(spec, (tuple, list)):
        op, val = spec
    else:
        s = str(spec).strip()
        for op in ("<=", ">=", "==", "!=", "<", ">", "="):
            if s.startswith(op):
                val = s[len(op):].strip()
                break
        else:
            raise ValueError(f"cannot parse bound: {spec!r}")
    op = "==" if op == "=" else op
    return op, int(val)


class HasEvidenceBound(_IntrusiveQuery):
    """AND of relational bounds on ev_count (reference: query.py:2207-2304).
    Inversion is plain predicate negation — ~(AND of bounds) — which equals
    the reference's OR-of-flipped-bounds since ev_count is never null."""

    def __init__(self, evidence_bounds: Sequence, inverted: bool = False):
        super().__init__(inverted)
        self.evidence_bounds = sorted(_parse_bound(b) for b in evidence_bounds)

    def is_full(self) -> bool:
        return not self.evidence_bounds and not self.inverted

    def is_empty(self) -> bool:
        return not self.evidence_bounds and self.inverted

    def _constraint_json(self) -> dict:
        return {"evidence_bounds": [list(b) for b in self.evidence_bounds]}

    @classmethod
    def _from_constraint(cls, constraint: dict) -> "Query":
        return cls([tuple(b) for b in constraint["evidence_bounds"]])

    def _positive_predicate(self) -> Column:
        return _and_all(
            [_BOUND_OPS[op](F.col("ev_count"), v) for op, v in self.evidence_bounds]
        )

    #: bound operators an AND-interval can represent EXACTLY; '!=' (a
    #: supported bound, _parse_bound above) punches a hole in the
    #: interval, so any query containing one gives no hint
    _BOXABLE = frozenset({"==", ">", ">=", "<", "<="})

    def _prune_hint(self) -> tuple[dict, dict]:
        """The AND of integer bounds as ONE closed ev_count interval
        [lo, hi] (open bounds shift by 1 — ev_count is integral), so the
        manifest range stats can prune on it."""
        if not self.evidence_bounds or not all(
            op in self._BOXABLE for op, _ in self.evidence_bounds
        ):
            return {}, {}
        lo: int | None = None
        hi: int | None = None
        for op, v in self.evidence_bounds:
            nlo, nhi = {
                "==": (v, v),
                ">": (v + 1, None),
                ">=": (v, None),
                "<": (None, v - 1),
                "<=": (None, v),
            }[op]
            if nlo is not None:
                lo = nlo if lo is None else max(lo, nlo)
            if nhi is not None:
                hi = nhi if hi is None else min(hi, nhi)
        return {}, {"ev_count": (lo, hi)}


def _like_prefix_box(pattern: str) -> tuple[str, str] | None:
    r"""The inclusive [lo, hi] range containing EVERY string a LIKE
    ``pattern`` can match, derived from its literal prefix (the text
    before the first ``%``/``_`` wildcard), or None when there is no
    usable prefix.  Soundness (the prune may only ever see a SUPERSET):
    any match starts with the prefix, so it sorts ≥ prefix and strictly
    below the prefix with its last code point incremented — both Python
    and Spark (UTF8_BINARY) compare strings by code point, so the box is
    valid on the driver-side stats AND in the residual filter.  A prefix
    whose every code point is already the maximum cannot be incremented
    and returns None (plain path — never a wrong box).

    Two soundness guards (round 13, ADVICE):

    * A pattern containing a backslash takes the plain path.  LIKE
      treats ``\%``/``\_`` as LITERAL characters, so splitting on raw
      wildcards would derive a prefix ending in ``\`` that EXCLUDES
      every real match (e.g. ``AMPK\_alpha%`` matches ``AMPK_alpha…``,
      which does not start with ``AMPK\``) — a wrong prune, not just a
      loose one.  Returning None is conservative and exact.
    * Incrementing the last code point never lands in the surrogate
      block U+D800–U+DFFF (a prefix ending in U+D7FF would otherwise
      yield a lone surrogate that py4j cannot UTF-8-encode, crashing the
      residual filter).  U+E000 is the next scalar value and no valid
      UTF-8 string sorts between them, so the box stays a superset."""
    import re

    if "\\" in pattern:
        return None
    prefix = re.split(r"[%_]", pattern, maxsplit=1)[0]
    if not prefix:
        return None
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return prefix, prefix[:i] + chr(nxt)
    return None


class HasAgent(Query):
    """Statements with an agent matching (id, namespace[, role, agent_num]).

    Table routing by namespace — NAME→name_meta, TEXT→text_meta, else
    other_meta+db_name filter (reference: query.py:1615-1767, routing
    :1717-1725) = partition pruning over the namespace-partitioned agent
    table.  A hash has many agent rows, so inversion is an anti-join
    against the source_meta universe (query.py:1752-1765)."""

    def __init__(
        self,
        agent_id: str,
        namespace: str = "NAME",
        role: Optional[str] = None,
        agent_num: Optional[int] = None,
        inverted: bool = False,
    ):
        super().__init__(inverted)
        if role is not None and agent_num is not None:
            raise ValueError("specify at most one of role / agent_num")
        if role is not None and role not in ROLE_NUMS:
            raise ValueError(f"unknown role {role!r}; options: {list(ROLE_NUMS)}")
        self.agent_id = str(agent_id)
        self.namespace = str(namespace)
        self.role = role
        self.agent_num = int(agent_num) if agent_num is not None else None

    def _constraint_json(self) -> dict:
        return {
            "agent_id": self.agent_id,
            "namespace": self.namespace,
            "role": self.role,
            "agent_num": self.agent_num,
        }

    #: injectable AUTO-namespace grounder: text -> (namespace, id) | None
    #: (the reference calls gilda here, query.py:1586-1612; install a real
    #: service with ``HasAgent.grounding_service = fn``)
    grounding_service = None

    def _agent_rows(self, lake: ReadonlyLake) -> DataFrame:
        from indra_db_spark.functions.ids import regularize_agent_id

        ns, agent_id = self.namespace, self.agent_id
        if ns == "AUTO" and HasAgent.grounding_service is not None:
            grounded = HasAgent.grounding_service(agent_id)
            if grounded is not None:
                ns, agent_id = grounded[0], grounded[1]
        if ns == "NAME" or ns == "AUTO":
            table = "name_meta"  # ungrounded AUTO falls back to NAME
        elif ns == "TEXT":
            table = "text_meta"
        else:
            table = "other_meta"
        rid = regularize_agent_id(agent_id, ns)
        if "%" in rid or "_" in rid:
            # LIKE pattern: inclusion blooms cannot prune, but a pattern
            # with a LITERAL PREFIX before its first wildcard is also a
            # RANGE — every match sorts in [prefix, increment(prefix)] —
            # so it narrows the scan through the db_id range stats: the
            # parquet analog of the reference btrees' text_pattern_ops
            # prefix scans (schemas/mixins.py:70-97).  The box is only a
            # superset; the exact LIKE applies on top.  Leading-wildcard
            # patterns have no prefix and scan the whole table.
            box = _like_prefix_box(rid)
            df = lake.pruned(
                table, predicates={"db_id": box} if box else None
            ).filter(F.col("db_id").like(rid))
        else:
            # exact-id lookup — the single most common serving query —
            # through the db_id bloom words (the reference's agent-id
            # btrees, mixins.py)
            df = lake.pruned(table, eq={"db_id": rid})
        if table == "other_meta":
            df = df.filter(F.col("db_name") == ns)
        if self.role is not None:
            df = df.filter(F.col("role_num") == ROLE_NUMS[self.role])
        if self.agent_num is not None:
            df = df.filter(F.col("ag_num") == self.agent_num)
        return df

    def _hashes(self, lake, intrusives) -> DataFrame:
        pos = (
            _apply_preds(self._agent_rows(lake), intrusives)
            .select(*HASH_COLS)
            .dropDuplicates(["mk_hash"])
        )
        if not self.inverted:
            return pos
        universe = _apply_preds(lake["source_meta"], intrusives).select(*HASH_COLS)
        return universe.join(pos.select("mk_hash"), "mk_hash", "left_anti")


class FromMeshIds(Query):
    """Statements from papers annotated with ANY of the given MeSH ids,
    routed by D/C prefix to mesh_term_meta / mesh_concept_meta; mixed
    prefixes split into a Union of per-prefix queries
    (reference: query.py:1903-2048, __new__ split :1926-1949)."""

    def __new__(cls, mesh_ids: Sequence[str], inverted: bool = False):
        kinds = {str(m)[0] for m in mesh_ids}
        if not kinds <= {"D", "C"}:
            bad = [m for m in mesh_ids if str(m)[0] not in "DC"]
            raise ValueError(f"mesh ids must start with D or C: {bad}")
        if kinds == {"D", "C"}:
            d = [m for m in mesh_ids if str(m).startswith("D")]
            c = [m for m in mesh_ids if str(m).startswith("C")]
            q = build_union([FromMeshIds(d), FromMeshIds(c)])
            return q.invert() if inverted else q
        return super().__new__(cls)

    def __init__(self, mesh_ids: Sequence[str], inverted: bool = False):
        super().__init__(inverted)
        self.mesh_ids = sorted(set(str(m) for m in mesh_ids))
        self._kind = self.mesh_ids[0][0] if self.mesh_ids else "D"

    def is_empty(self) -> bool:
        return not self.mesh_ids and not self.inverted

    def is_full(self) -> bool:
        return not self.mesh_ids and self.inverted

    def _constraint_json(self) -> dict:
        return {"mesh_ids": self.mesh_ids}

    def _hashes(self, lake, intrusives) -> DataFrame:
        table = "mesh_term_meta" if self._kind == "D" else "mesh_concept_meta"
        nums = [int(m[1:]) for m in self.mesh_ids]
        # mesh_num IN-list through the mesh table's bloom words, the
        # HasHash shape; the reference answers this through its
        # clustered mesh_num index (readonly_schema.py:635-637 family)
        base = lake.pruned(table, eq={"mesh_num": nums})
        pos = (
            _apply_preds(base, intrusives)
            .select(*HASH_COLS)
            .dropDuplicates(["mk_hash"])
        )
        if not self.inverted:
            return pos
        universe = _apply_preds(lake["source_meta"], intrusives).select(*HASH_COLS)
        return universe.join(pos.select("mk_hash"), "mk_hash", "left_anti")


#: reading_ref_link match key of each paper-id type (see :func:`_ref_isin`)
_REF_COLS = {
    "pmid": "pmid_num",
    "pmcid": "pmcid_num",
    "trid": "trid",
    "doi": "doi",
}


def _ref_isin(key: str, vals: list) -> Column:
    """reading_ref_link rows whose :meth:`FromPapers._ref_keys` key is in
    ``vals``: the numeric id column, or for "doi" the (doi_ns, doi_id)
    PAIR as "ns/id" — doi_id alone collides across publisher namespaces
    (reference: mixins.py:431-446)."""
    if key == "doi":
        return F.concat_ws(
            "/", F.col("doi_ns").cast("string"), F.col("doi_id")
        ).isin(vals)
    return isin(key, vals)


class FromPapers(Query):
    """Statements with evidence from the given papers: normalize ids, filter
    reading_ref_link, semi-join through fast_raw_pa_link.reading_id
    (reference: query.py:1811-1900; id predicates schemas/mixins.py:266-472)."""

    def __init__(self, paper_list: Sequence, inverted: bool = False):
        super().__init__(inverted)
        self.paper_list = sorted(
            {(str(t).lower(), str(i)) for t, i in paper_list}
        )
        bad = [t for t, _ in self.paper_list if t not in ("pmid", "pmcid", "doi", "trid")]
        if bad:
            raise ValueError(f"unknown paper id types: {bad}")

    def is_empty(self) -> bool:
        return not self.paper_list and not self.inverted

    def is_full(self) -> bool:
        return not self.paper_list and self.inverted

    def _constraint_json(self) -> dict:
        return {"paper_list": [list(p) for p in self.paper_list]}

    @classmethod
    def _from_constraint(cls, constraint: dict) -> "Query":
        return cls([tuple(p) for p in constraint["paper_list"]])

    def _ref_keys(self) -> dict[str, list]:
        """The paper list parsed into reading_ref_link match values per
        :func:`_ref_isin` key.  Ids that fail parsing are dropped: they
        match nothing."""
        from indra_db_spark.functions.ids import (
            process_doi,
            process_pmcid,
            process_pmid,
        )

        def doi(i):
            ns, gid = process_doi(i)
            return None if ns is None else f"{ns}/{gid}"

        parse = {
            "pmid": process_pmid,
            "pmcid": lambda i: process_pmcid(i)[0],
            "trid": int,
            "doi": doi,
        }
        keys: dict[str, list] = {}
        for t, i in self.paper_list:
            v = parse[t](i)
            vals = keys.setdefault(_REF_COLS[t], [])
            if v is not None:
                vals.append(v)
        return keys

    def _ref_predicate(self) -> Column:
        """reading_ref_link rows matching the paper list, as one plain
        filter (the evidence-level papers clause)."""
        out = F.lit(False)
        for key, vals in self._ref_keys().items():
            out = out | _ref_isin(key, vals)
        return out

    def _ref_rows(self, lake) -> DataFrame:
        """reading_ref_link rows matching the paper list: each numeric id
        column is one point probe through :meth:`ReadonlyLake.pruned`
        (the reference's trid/pmid btrees, schemas/mixins.py:70-97);
        the DOI pair cannot be a single-column probe, so it is a plain
        filter.  The parts union — a row matching several repeats, and
        the caller's rid-level distinct collapses it."""
        refs = lake["reading_ref_link"]
        parts = [
            refs.filter(_ref_isin(key, vals))
            if key == "doi"
            else lake.pruned("reading_ref_link", eq={key: vals})
            for key, vals in self._ref_keys().items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _hashes(self, lake, intrusives) -> DataFrame:
        rids = (
            self._ref_rows(lake)
            .select(F.col("rid").alias("reading_id"))
            .distinct()
        )
        link = lake["fast_raw_pa_link"].join(F.broadcast(rids), "reading_id", "left_semi")
        meta = _apply_preds(lake["source_meta"], intrusives).select(*HASH_COLS)
        pos = link.select("mk_hash").distinct().join(meta, "mk_hash")
        if not self.inverted:
            return pos
        universe = _apply_preds(lake["source_meta"], intrusives).select(*HASH_COLS)
        return universe.join(pos.select("mk_hash"), "mk_hash", "left_anti")


class FromAgentJson(Query):
    """Drill-down on one agent_interactions row: exact agent_json match plus
    optional type/hash filters (reference: query.py:1155-1196)."""

    def __init__(
        self,
        agent_json: dict,
        stmt_type: Optional[str] = None,
        hashes: Optional[Sequence[int]] = None,
        inverted: bool = False,
    ):
        super().__init__(inverted)
        self.agent_json = {str(k): str(v) for k, v in agent_json.items()}
        self.stmt_type = stmt_type
        self.stmt_hashes = sorted(int(h) for h in hashes) if hashes else None

    def _constraint_json(self) -> dict:
        return {
            "agent_json": self.agent_json,
            "stmt_type": self.stmt_type,
            "hashes": self.stmt_hashes,
        }

    def _hashes(self, lake, intrusives) -> DataFrame:
        df = lake["agent_interactions"].filter(~F.col("is_complex_dup"))
        # map equality as size + per-key lookup (maps aren't comparable)
        df = df.filter(F.size(F.map_keys(F.col("agent_json"))) == len(self.agent_json))
        for k, v in self.agent_json.items():
            df = df.filter(F.element_at(F.col("agent_json"), k) == v)
        if self.stmt_type is not None:
            df = df.filter(F.col("type_num") == TYPE_NUMS[self.stmt_type])
        if self.stmt_hashes is not None:
            df = df.filter(isin("mk_hash", self.stmt_hashes))
        pos = (
            _apply_preds(df, intrusives)
            .select(*HASH_COLS)
            .dropDuplicates(["mk_hash"])
        )
        if not self.inverted:
            return pos
        universe = _apply_preds(lake["source_meta"], intrusives).select(*HASH_COLS)
        return universe.join(pos.select("mk_hash"), "mk_hash", "left_anti")


# ============================================================== merge queries


class _MergeQuery(Query):
    """Common machinery for Intersection/Union.  Never inverted at compile
    time: ``invert`` applies De Morgan structurally."""

    def __init__(self, queries: Sequence[Query]):
        super().__init__(False)
        self.queries = sorted(queries, key=lambda q: q.canonical())

    def _constraint_json(self) -> dict:
        return {"queries": [q.to_json() for q in self.queries]}

    @classmethod
    def _from_constraint(cls, constraint: dict) -> "Query":
        qs = [Query.from_json(j) for j in constraint["queries"]]
        return (
            build_intersection(qs) if cls is Intersection else build_union(qs)
        )


class Intersection(_MergeQuery):
    """AND of subqueries (reference: query.py:2520-2734).  Compiled as:
    one filtered source_meta scan for all predicate leaves + chained
    semi-joins for complex positives + ONE anti-join for the union of
    negated complex leaves, with intrusive leaves pushed into every scan."""

    def invert(self) -> "Query":
        return build_union([q.invert() for q in self.queries])

    def _prune_hints(self) -> tuple[dict, dict]:
        """(eq hints, box hints) for the collapsed source_meta scan: the
        merged :meth:`_PredicateQuery._prune_hint` of the conjunction's
        NON-inverted predicate leaves, so ``HasHash(...) &
        HasSources(...)`` keeps the manifest pruning HasHash gets
        standing alone.  Hints only ever narrow (the conjunction's own
        predicates are re-applied exactly on top), so point lists on the
        same column intersect — an empty intersection proves the
        conjunction empty — and boxes on the same column intersect; a
        contradictory (lo > hi) box stays, and the exact residual then
        yields the correct empty."""
        eq_hints: dict = {}
        box_hints: dict = {}
        for q in self.queries:
            if q.inverted or not q.is_predicate:
                continue
            eq, box = q._prune_hint()
            for col, values in eq.items():
                eq_hints[col] = (
                    sorted(set(eq_hints[col]) & set(values))
                    if col in eq_hints
                    else list(values)
                )
            for col, (lo, hi) in box.items():
                plo, phi = box_hints.get(col, (None, None))
                box_hints[col] = (
                    max((x for x in (lo, plo) if x is not None), default=None),
                    min((x for x in (hi, phi) if x is not None), default=None),
                )
        return eq_hints, box_hints

    def _hashes(self, lake, intrusives) -> DataFrame:
        intrusives = list(intrusives)
        preds: list[Column] = []
        pos_branches: list[Query] = []
        neg_branches: list[Query] = []
        child_intrusives = list(intrusives)
        for q in self.queries:
            if q.is_intrusive:
                child_intrusives.append(q.meta_predicate)
            elif q.is_predicate:
                preds.append(q.source_predicate())
            elif q.inverted:
                neg_branches.append(q)
            else:
                pos_branches.append(q)

        branches: list[DataFrame] = []
        # single-scan conjunction of all predicate + intrusive leaves,
        # narrowed by the leaves' merged prune hints
        if preds or not pos_branches:
            eq_hints, box_hints = self._prune_hints()
            base = lake.pruned(
                "source_meta", predicates=box_hints, eq=eq_hints
            ).filter(_and_all(preds))
            base = _apply_preds(base, child_intrusives).select(*HASH_COLS)
            branches.append(base)
        branches.extend(q.hashes(lake, child_intrusives) for q in pos_branches)

        result = keyed_intersect(branches, "mk_hash")
        if neg_branches:
            # positive-EXCEPT-negative (query.py:2663-2709): evaluate the
            # negatives in their (smaller) positive sense, union, anti-join
            negs = [q.invert().hashes(lake, child_intrusives) for q in neg_branches]
            neg_union = negs[0]
            for n in negs[1:]:
                neg_union = neg_union.unionByName(n)
            result = result.join(
                neg_union.select("mk_hash").distinct(), "mk_hash", "left_anti"
            )
        # already distinct: every branch is (hashes() are distinct, and
        # source_meta has one row per hash), and semi/anti joins keep
        # the first branch's rows without repeating any — a dedup here
        # would cost a shuffle, one Spark job per request
        return result


class Union(_MergeQuery):
    """OR of subqueries (reference: query.py:2795-2976)."""

    def invert(self) -> "Query":
        return build_intersection([q.invert() for q in self.queries])

    def _hashes(self, lake, intrusives) -> DataFrame:
        branches = [q.hashes(lake, intrusives) for q in self.queries]
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out.dropDuplicates(["mk_hash"])


# ------------------------------------------------- construction/normalization

#: list-leaf classes mergeable under & / | (reference: query.py:1032-1058)
_LIST_FIELDS = {
    "HasHash": "stmt_hashes",
    "HasType": "stmt_types",
    "HasNumAgents": "agent_nums",
    "HasNumEvidence": "evidence_nums",
}


def _merge_list_leaves(queries: list[Query], mode: str) -> list[Query]:
    """Merge same-class, same-polarity list leaves set-wise: ∩ under AND,
    ∪ under OR — flipped for inverted leaves (De Morgan)."""
    out: list[Query] = []
    groups: dict[tuple, list[Query]] = {}
    for q in queries:
        cls = type(q).__name__
        if cls in _LIST_FIELDS:
            groups.setdefault((cls, q.inverted), []).append(q)
        else:
            out.append(q)
    for (cls, inverted), qs in groups.items():
        if len(qs) == 1:
            out.append(qs[0])
            continue
        field = _LIST_FIELDS[cls]
        sets = [set(getattr(q, field)) for q in qs]
        # polarity-adjusted set op: AND on inverted leaves unions the
        # underlying lists (¬A ∧ ¬B ≡ ¬(A ∨ B)) and vice versa
        intersect = (mode == "and") != inverted
        merged = set.intersection(*sets) if intersect else set.union(*sets)
        proto = qs[0].to_json()
        proto["constraint"][field] = sorted(merged)
        out.append(Query.from_json(proto))
    return out


def _normalize(queries: Sequence[Query], mode: str) -> list[Query] | Query:
    """Shared flatten/dedup/merge/contradiction logic; returns the final
    child list, or a Query when the merge collapses."""
    merge_cls = Intersection if mode == "and" else Union
    flat: list[Query] = []
    for q in queries:
        if isinstance(q, EmptyQuery):
            continue  # neutral element for chain building
        if isinstance(q, merge_cls):
            flat.extend(q.queries)
        else:
            flat.append(q)

    # dedup by canonical form
    seen: dict[str, Query] = {}
    for q in flat:
        seen.setdefault(q.canonical(), q)
    flat = list(seen.values())

    flat = _merge_list_leaves(flat, mode)

    # constant propagation
    if mode == "and":
        if any(q.is_empty() for q in flat):
            return HasHash([])  # canonical empty
        flat = [q for q in flat if not q.is_full()]
        if not flat:
            return HasHash([], inverted=True)  # canonical full
    else:
        if any(q.is_full() for q in flat):
            return HasHash([], inverted=True)
        flat = [q for q in flat if not q.is_empty()]
        if not flat:
            return HasHash([])

    # contradiction / tautology: q with ~q (query.py:2575-2584, :2845-2852)
    canon = {q.canonical() for q in flat}
    for q in flat:
        try:
            if q.invert().canonical() in canon:
                return HasHash([]) if mode == "and" else HasHash([], inverted=True)
        except ValueError:
            pass

    if len(flat) == 1:
        return flat[0]
    return flat


def build_intersection(queries: Sequence[Query]) -> Query:
    result = _normalize(queries, "and")
    return result if isinstance(result, Query) else Intersection(result)


def build_union(queries: Sequence[Query]) -> Query:
    result = _normalize(queries, "or")
    return result if isinstance(result, Query) else Union(result)


QUERY_CLASSES = {
    cls.__name__: cls
    for cls in [
        EmptyQuery,
        HasHash,
        HasSources,
        HasOnlySource,
        HasReadings,
        HasDatabases,
        HasType,
        HasNumAgents,
        HasNumEvidence,
        HasEvidenceBound,
        HasAgent,
        FromMeshIds,
        FromPapers,
        FromAgentJson,
        Intersection,
        Union,
    ]
}
