"""Principal-side (input DB) clients: raw-statement agent search and
curation operators (reference: indra_db/client/principal/raw_statements.py
and curation handling in indra_db_service/call_handlers.py:336-354).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indra_db_spark.plans.txlog import isin
from indra_db_spark.schemas import ROLE_NUMS


def _escape_like(s: str) -> str:
    """Sanitize user text for LIKE: escape %/_ unless the caller opted into
    wildcards (reference: raw_statements.py:100-102)."""
    return s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")


def raw_statement_search(
    raw_statements: DataFrame,
    raw_agents: DataFrame,
    agents: Sequence[tuple[Optional[str], str, Optional[str]]],
    stmt_type: Optional[str] = None,
    allow_wildcards: bool = False,
) -> DataFrame:
    """Raw statements matching ALL given agent constraints.

    ``agents`` is a list of (role, agent_id, namespace) — role in
    SUBJECT/OBJECT/None, namespace None matching any.  Compiled as the
    intersection of per-agent stmt_id sets (reference ``intersect_all``,
    raw_statements.py:94-135) = chained semi-joins, one per constraint, so
    each constraint prunes before the next join.
    """
    if not agents and stmt_type is None:
        raise ValueError("need at least one agent constraint or a type")
    out = raw_statements
    if stmt_type is not None:
        out = out.filter(F.col("type") == stmt_type)
    for role, agent_id, namespace in agents:
        rows = raw_agents
        if namespace is not None:
            rows = rows.filter(F.col("db_name") == namespace)
        pat = agent_id if allow_wildcards else _escape_like(agent_id)
        if "%" in pat or "_" in pat:
            rows = rows.filter(F.col("db_id").like(pat))
        else:
            rows = rows.filter(F.col("db_id") == agent_id)
        if role is not None:
            rows = rows.filter(F.col("role_num") == ROLE_NUMS[role.upper()])
        out = out.join(
            rows.select(F.col("stmt_id").alias("sid")).distinct(),
            "sid",
            "left_semi",
        )
    return out


def curation_counts(curation: DataFrame) -> DataFrame:
    """Curations per pa_hash (reference counts client-side with a Counter,
    call_handlers.py:336-354; here it distributes)."""
    return curation.groupBy("pa_hash").agg(
        F.count("*").cast("int").alias("curation_count")
    )


def anonymize_curators(curation: DataFrame, salt: str = "") -> DataFrame:
    """Replace curator identities with ``md5(curator + salt)[:16]`` — the
    exact anonymization the reference applies for users without the
    get_curations permission (api.py:631-639 + CURATOR_SALT)."""
    return curation.withColumn(
        "curator", F.substring(F.md5(F.concat(F.col("curator"), F.lit(salt))), 1, 16)
    )


def curations_for(
    curation: DataFrame,
    pa_hash: Optional[int] = None,
    source_hash: Optional[int] = None,
    tag: Optional[str] = None,
    anonymize: bool = True,
    salt: str = "",
) -> DataFrame:
    """Point lookups over the curation table.  ``anonymize`` applies the
    md5 curator masking (reference api.py:636-639); the reference's
    per-statement list endpoint skips it for permissioned users."""
    out = curation
    if pa_hash is not None:
        out = out.filter(isin("pa_hash", [int(pa_hash)]))
    if source_hash is not None:
        out = out.filter(isin("source_hash", [int(source_hash)]))
    if tag is not None:
        out = out.filter(F.col("tag") == tag)
    return anonymize_curators(out, salt) if anonymize else out


class BadHashError(ValueError):
    """Submitted pa_hash does not exist in pa_statements (reference:
    indra_db/exceptions.py BadHashError, raised by submit_curation)."""

    def __init__(self, mk_hash: int):
        self.mk_hash = mk_hash
        super().__init__(f"invalid statement hash: {mk_hash}")


class CurationStore:
    """The curation WRITE path (reference: client/principal/curation.py:17-82
    submit_curation + principal_schema.py:949-1006).

    Curations are tiny OLTP events in a lakehouse engine, so the store is an
    append-only log: submissions accumulate driver-side and flush as small
    parquet appends; reads union the persisted log with the unflushed tail.
    On a cluster the parquet root is the shared object-store path and a
    nightly compaction folds the small files (standard lakehouse hygiene —
    no per-row table mutation anywhere).
    """

    def __init__(self, spark, path: str | None = None):
        import threading

        self.spark = spark
        self.path = path
        self._pending: list[dict] = []
        # the REST layer serves submits from ThreadingHTTPServer threads:
        # id assignment, the pending tail, and flush share one lock so
        # concurrent submissions can neither mint duplicate ids nor lose a
        # row appended between another thread's flush build and clear
        self._lock = threading.Lock()
        self._next_id = self._persisted_count() + 1

    def _persisted(self) -> DataFrame | None:
        """The flushed log, or None while nothing was ever flushed (its
        path does not exist yet).  Every other read failure propagates:
        a log that cannot be read must not read as empty, or ids would
        restart at 1 and counts and lists come out silently wrong."""
        from pyspark.errors import AnalysisException

        from indra_db_spark.schemas import CURATION_SCHEMA

        if self.path is None:
            return None
        try:
            return self.spark.read.schema(CURATION_SCHEMA).parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise

    def _persisted_count(self) -> int:
        persisted = self._persisted()
        return 0 if persisted is None else persisted.count()

    def submit(
        self,
        hash_val: int,
        tag: str,
        curator: str,
        ip: str,
        text: Optional[str] = None,
        ev_hash: Optional[int] = None,
        source: str = "direct_client",
        pa_json: Optional[dict] = None,
        ev_json: Optional[dict] = None,
        pa_statements: Optional[DataFrame] = None,
        date: Optional[str] = None,
    ) -> int:
        """Record one curation; returns the assigned id.

        Mirrors submit_curation's contract (curation.py:17-82): when
        ``pa_statements`` is given the hash is validated against it
        (BadHashError on a miss) and the stored pa_json defaults to the
        statement's own JSON.
        """
        import datetime as _dt
        import json as _json

        hash_val = int(hash_val)
        if pa_statements is not None:
            hit = (
                pa_statements.filter(isin("mk_hash", [hash_val]))
                .select("mk_hash", "json")
                .limit(1)
                .collect()
            )
            if not hit:
                raise BadHashError(hash_val)
            if pa_json is None:
                pa_json = _json.loads(bytes(hit[0].json).decode())
        with self._lock:
            row = {
                "id": self._next_id,
                "pa_hash": hash_val,
                "source_hash": int(ev_hash) if ev_hash is not None else None,
                "tag": tag,
                "curator": curator,
                "text": text,
                "ip": ip,
                "source": source,
                "date": date
                or _dt.datetime.utcnow().isoformat(timespec="seconds"),
                "pa_json": _json.dumps(pa_json).encode() if pa_json else None,
                "ev_json": _json.dumps(ev_json).encode() if ev_json else None,
            }
            self._pending.append(row)
            self._next_id += 1
            if self.path is not None:
                self._flush_locked()
        return row["id"]

    def flush(self) -> None:
        """Append pending rows to the parquet log."""
        with self._lock:
            self._flush_locked()

    def _flush_locked(self) -> None:
        if not self._pending or self.path is None:
            return
        from indra_db_spark.schemas import CURATION_SCHEMA

        from indra_db_spark.session import local_artifact_df

        local_artifact_df(
            self.spark, self._pending, CURATION_SCHEMA
        ).coalesce(1).write.mode("append").parquet(self.path)
        self._pending.clear()

    def df(self) -> DataFrame:
        """All curations: persisted log ∪ unflushed tail."""
        from indra_db_spark.schemas import CURATION_SCHEMA

        with self._lock:
            pending = list(self._pending)
        from indra_db_spark.session import local_artifact_df

        tail = local_artifact_df(self.spark, pending, CURATION_SCHEMA)
        persisted = self._persisted()
        return tail if persisted is None else persisted.unionByName(tail)
