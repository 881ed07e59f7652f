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

    With a ``path`` the store is one transaction-logged table
    (:class:`~indra_db_spark.plans.txlog.TxTable`) rooted there, and every
    submit is one one-row append commit.  Its id is drawn from the
    committed log: the largest id at the version the writer has read,
    plus one, committed as exactly the next version
    (:meth:`TxTable.append_at`).  A writer that loses that version to
    another store on the same root folds the winner's commits in and
    re-stages with the next id, so no two stores ever share an id, and a
    submit whose commit fails persists nothing and consumes no id.

    Counts are served from memory: ``{pa_hash: n}`` and the largest id
    are built at open from one read of (id, pa_hash), bumped by this
    store's own commits, and folded forward from other writers' appends
    through :meth:`TxTable.changes` (a full re-read when the range holds
    commits ``changes`` cannot attribute, e.g. after compaction plus
    vacuum).  A :meth:`counts` read lists the log once and runs no Spark
    job unless another writer committed; it never waits on a submit's
    write, which holds only the submit lock.

    Without a ``path`` the store keeps its rows in memory.
    """

    def __init__(self, spark, path: str | None = None):
        import threading

        from indra_db_spark.plans.txlog import TxTable

        self.spark = spark
        self.path = path
        self._table = None if path is None else TxTable(spark, path)
        self._rows: list[dict] = []  # the in-memory store's curations
        # submits serialize on _lock across their Spark write; the counts,
        # the largest id and the version they reflect change only under
        # _fold_lock, which no write holds
        self._lock = threading.Lock()
        self._fold_lock = threading.Lock()
        self._counts: dict[int, int] = {}
        self._max_id = 0
        self._version = 0
        if self._table is not None:
            self._fold()

    def _fold(self) -> int:
        """Bring the counts up to the log's latest version (one listing;
        a Spark job only when other writers committed); returns it."""
        vs = self._table._versions()
        hi = vs[-1] if vs else 0
        with self._fold_lock:
            lo = self._version
            if hi <= lo:
                return lo
            counts, max_id, rows = dict(self._counts), self._max_id, None
            if lo:
                try:
                    rows = (
                        self._table.changes(lo, hi)
                        .select("id", "pa_hash")
                        .collect()
                    )
                except Exception:  # noqa: BLE001 — a real fault re-raises below
                    rows = None
            if rows is None:
                counts, max_id = {}, 0
                rows = self._read(hi).select("id", "pa_hash").collect()
            for r in rows:
                counts[r.pa_hash] = counts.get(r.pa_hash, 0) + 1
                max_id = max(max_id, r.id)
            self._counts, self._max_id, self._version = counts, max_id, hi
            return hi

    def _read(self, version: int) -> DataFrame:
        """The table at ``version``; empty at version 0 (nothing committed)."""
        return self._table.read(version) if version else self._local([])

    def _local(self, rows: list[dict]) -> DataFrame:
        from indra_db_spark.schemas import CURATION_SCHEMA
        from indra_db_spark.session import local_artifact_df

        return local_artifact_df(self.spark, rows, CURATION_SCHEMA)

    def _add(self, version: int, row: dict) -> None:
        """Count this store's own commit ``row`` at ``version`` — unless
        a concurrent :meth:`_fold` already read it from the log."""
        with self._fold_lock:
            if self._version == version - 1:
                h = row["pa_hash"]
                self._counts[h] = self._counts.get(h, 0) + 1
                self._max_id = max(self._max_id, row["id"])
                self._version = version

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
        row = {
            "pa_hash": hash_val,
            "source_hash": int(ev_hash) if ev_hash is not None else None,
            "tag": tag,
            "curator": curator,
            "text": text,
            "ip": ip,
            "source": source,
            "date": date or _dt.datetime.utcnow().isoformat(timespec="seconds"),
            "pa_json": _json.dumps(pa_json).encode() if pa_json else None,
            "ev_json": _json.dumps(ev_json).encode() if ev_json else None,
        }
        with self._lock:
            if self._table is None:
                row["id"] = self._max_id + 1
                self._rows.append(row)
                self._add(self._version + 1, row)
                return row["id"]
            for _ in range(20):
                self._fold()
                with self._fold_lock:
                    version, row["id"] = self._version + 1, self._max_id + 1
                if self._table.append_at(self._local([row]), version):
                    self._add(version, row)
                    return row["id"]
        raise RuntimeError("curation submit lost 20 commit races")

    def counts(self, hashes) -> dict[int, int]:
        """``{pa_hash: curations}`` for the curated hashes among
        ``hashes``, from memory (see the class docstring)."""
        if self._table is not None:
            self._fold()
        with self._fold_lock:
            return {
                h: self._counts[h] for h in map(int, hashes) if h in self._counts
            }

    def df(self) -> DataFrame:
        """Every committed curation (the in-memory store's rows)."""
        if self._table is None:
            with self._lock:
                return self._local(list(self._rows))
        return self._read(self._fold())
