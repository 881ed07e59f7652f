"""The readonly lake — the rebuild's counterpart of the reference's
materialized ``readonly`` Postgres schema (SURVEY.md §1.4).

Holds one DataFrame per readonly table and serves them to the query algebra.
A lake is written, released and opened through one storage layout: each
table is a transaction-logged parquet table (:mod:`plans.txlog`) under
``<root>/<table>``, committed by :meth:`ReadonlyLake.write_txlog` and opened
at pinned versions by :meth:`ReadonlyLake.from_txlog`
(:mod:`assembly.snapshot` adds the release record that names one version
per table).  Every leaf scan that narrows a table by box or point
predicates reads through :meth:`ReadonlyLake.pruned`, which alone decides
how the table is physically served (manifest-pruned txlog read, broadcast
semi-join, or the filtered in-memory frame); callers never branch on it.
A txlog-served table is one parquet relation per pinned version, built at
open (:meth:`plans.txlog.TxTable.pin`); a pruned scan narrows that
relation to the files its manifest admits, so a request pays no manifest
read, relation build or footer job.

The three agent-meta tables (name/text/other) are the reference's
skew-busting partition of pa_meta by namespace
(readonly_schema.py:991-1021) and keep that routing here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from indra_db_spark.plans import fsutil
from indra_db_spark.schemas import READONLY_SCHEMAS


#: longest eq list :meth:`ReadonlyLake.pruned` probes through the txlog
#: manifest; a longer one takes a broadcast semi-join instead.  Every
#: input the REST service produces stays under it: statement pages are
#: ≤ MAX_STMTS (500) hashes and their text-ref fetch ≤ page × ev_limit
#: reading ids (5000 at the default ev_limit of 10).  Past it, the
#: residual ``isin`` costs seconds of py4j marshalling and an eq probe
#: over that many keys admits nearly every file anyway.
PRUNE_KEYS_MAX = 10_000


#: tables every lake must provide for the query algebra
CORE_TABLES = (
    "name_meta",
    "text_meta",
    "other_meta",
    "source_meta",
    "mesh_term_meta",
    "mesh_concept_meta",
)


class ReadonlyLake:
    def __init__(self, tables: dict[str, DataFrame]):
        missing = [t for t in CORE_TABLES if t not in tables]
        if missing:
            raise ValueError(f"readonly lake missing core tables: {missing}")
        self._tables = dict(tables)
        # txlog handles for tables served through the log (set by
        # from_txlog): lets leaf scans route through manifest-stats
        # pruning (TxTable.skip_read) — {name: (TxTable, pinned version)}
        self._tx: dict[str, tuple] = {}
        # rolling (table, files_read, files_total) log of recent
        # manifest-pruned scans, for tests and entries asserting the
        # prune ENGAGED: multi-scan call paths like get_statements prune
        # several tables per request.  Bounded so a long-lived serving
        # process never grows it.
        from collections import deque

        self.prune_log: "deque[tuple[str, int, int]]" = deque(maxlen=32)

    def __getitem__(self, name: str) -> DataFrame:
        return self._tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def tables(self) -> dict[str, DataFrame]:
        return dict(self._tables)

    @property
    def spark(self) -> SparkSession:
        return self._tables["source_meta"].sparkSession

    def universe(self) -> DataFrame:
        """The hash universe: one row per statement with payload columns
        (source_meta is the reference's EXCEPT base, query.py:1752-1765)."""
        return self._tables["source_meta"].select("mk_hash", "ev_count", "belief")

    def register_views(self, prefix: str = "") -> None:
        """Expose every lake table as a temp view so the whole readonly
        layer is queryable in plain Spark SQL (the free SQL surface the
        reference lacks — its only query language is the algebra)."""
        for name, df in self._tables.items():
            df.createOrReplaceTempView(f"{prefix}{name}")

    # ---- transaction-logged serving (r7 verdict #8) ----------------------

    #: the serving-tier skipping config :meth:`write_txlog` applies with
    #: ``stats=True``: range stats on the algebra's primary sort/filter
    #: key (ev_count — HasEvidenceBound, ranked pagination), bloom words
    #: on source_meta's point-lookup key (mk_hash — HasHash), and bloom
    #: words on the agent tables' lookup key (db_id — HasAgent's exact
    #: id match, the single most common query the reference serves).
    #: This is the lake's replacement for the reference's btree indexes
    #: on those columns (readonly_schema.py:635-637 clustered mk_hash
    #: index; mixins.py agent-id btrees).  Round 12 (r11 verdict
    #: next-round #3) extends the routing to the remaining IN-list
    #: leaves: mesh_num blooms on the two mesh tables (the reference's
    #: clustered mesh_num index, readonly_schema.py:635-637 family) and
    #: paper-id blooms on reading_ref_link (the trid/pmid/pmcid btrees,
    #: schemas/mixins.py:70-97) so FromMeshIds / FromPapers point
    #: lookups prune files — and, two-level, segments — driver-side.
    TXLOG_STATS = {
        "source_meta": {"cols": ("ev_count",), "bloom": ("mk_hash",)},
        # db_id carries RANGE stats too (not just blooms): prefix-LIKE
        # agent lookups prune through string min/max (round 12, the
        # text_pattern_ops btree analog) — selective under a db_id
        # range/sort layout, harmlessly unselective under hash layouts
        "name_meta": {"cols": ("ev_count", "db_id"), "bloom": ("db_id",)},
        "text_meta": {"cols": ("ev_count", "db_id"), "bloom": ("db_id",)},
        "other_meta": {"cols": ("ev_count", "db_id"), "bloom": ("db_id",)},
        "mesh_term_meta": {"cols": ("ev_count",), "bloom": ("mesh_num",)},
        "mesh_concept_meta": {
            "cols": ("ev_count",),
            "bloom": ("mesh_num",),
        },
        # rid carries range stats AND blooms: get_statements fetches the
        # page's bounded reading_id set as a point lookup (r13) — blooms
        # serve small pages, rid ranges serve big ones on a rid-ordered
        # layout (long lists saturate blooms and abandon cheaply)
        "reading_ref_link": {
            "cols": ("rid",),
            "bloom": ("pmid_num", "pmcid_num", "trid", "rid"),
        },
        # the statement-page evidence scan (shaping.get_statements)
        # fetches a bounded page of mk_hashes from the EVIDENCE table —
        # the reference lands this on the fast_raw_pa_link mk_hash index
        # (readonly_schema.py:320-357); here the page routes through the
        # manifest's mk_hash bloom words (r12 verdict next-round #1)
        "fast_raw_pa_link": {"cols": (), "bloom": ("mk_hash",)},
    }

    def write_txlog(
        self,
        spark: SparkSession,
        root: str,
        stats: bool | dict = False,
    ) -> dict[str, int]:
        """Commit every lake table into a :class:`plans.txlog.TxTable` at
        ``root/<name>`` — the multi-writer layout: incremental releases
        become appends/merges instead of wholesale rebuilds, every reader
        gets snapshot isolation, and the algebra can time-travel to any
        retained release (:meth:`from_txlog`).  Returns
        {table: committed version}.

        ``stats=True`` applies :data:`TXLOG_STATS` (or pass a
        {table: {"cols": ..., "bloom": ...}} dict) BEFORE each append, so
        the manifests carry skipping stats from the first commit and
        :meth:`pruned` can serve point/range leaf queries without
        touching non-matching files."""
        from indra_db_spark.plans.txlog import TxTable

        spec = self.TXLOG_STATS if stats is True else (stats or {})
        out = {}
        for name, df in self._tables.items():
            tx = TxTable(spark, fsutil.join(root, name))
            cfg = spec.get(name)
            if cfg:
                tx.set_stats_columns(
                    *cfg.get("cols", ()), bloom=tuple(cfg.get("bloom", ()))
                )
            out[name] = tx.append(df)
        return out

    @classmethod
    def from_txlog(
        cls,
        spark: SparkSession,
        root: str,
        version: int | dict[str, int] | None = None,
        timestamp_ms: int | None = None,
        extra: dict[str, DataFrame] | None = None,
    ) -> "ReadonlyLake":
        """Serve the query algebra FROM transaction-logged tables written
        by :meth:`write_txlog` — each table is one committed snapshot, so
        a query never sees a half-landed commit (the reference swaps in
        a whole new readonly database per release for the same reason;
        the log gets that isolation incrementally).

        ``version`` pins every table (int), or opens exactly the tables
        a {name: version} dict names at those versions; ``timestamp_ms``
        resolves a per-table
        ``AS OF <timestamp>`` via the commit stamps.  Omit both for the
        latest snapshot of each table; a served release opens at the
        versions its release record names
        (:func:`assembly.snapshot.load_release`), so it never mixes two
        releases.

        The per-table METADATA resolution (log-dir existence, manifest
        read, segment prefetch, version pinning) runs 8-way concurrent —
        the same py4j per-thread-connection pattern as the txlog's
        segment prefetch (round 12): a cold lake open over ~17 tables on
        an object store is otherwise that many serial manifest
        round-trip chains.  DataFrame construction stays on the calling
        thread: each table's frame is its pinned version's one relation
        (:meth:`TxTable.pin`), which every :meth:`pruned` scan of the
        table narrows."""
        from concurrent.futures import ThreadPoolExecutor

        from indra_db_spark.plans.txlog import LOG_DIR, TxTable

        tables: dict[str, DataFrame] = dict(extra or {})
        handles: dict[str, tuple] = {}

        def _resolve(name: str):
            # (name, TxTable, pinned version), or None when the log serves
            # no data there: no log directory, zero commits (a writer
            # created the dirs and crashed before its first commit), or a
            # CONFIG-ONLY pinned version (set_stats_columns committed
            # before the first append, or a data-less restore target).
            # None means "does not exist yet", never an error that bricks
            # the whole open.  The pin makes the lake's frame and every
            # later pruned() scan read the same snapshot even when a
            # writer commits in between.
            path = fsutil.join(root, name)
            if not fsutil.is_dir(spark, fsutil.join(path, LOG_DIR)):
                return None
            tx = TxTable(spark, path)
            head, head_files = tx.snapshot()  # ONE resolution per table
            if head == 0:
                return None
            if timestamp_ms is not None:
                v = tx.version_at(timestamp_ms)
            else:
                v = version[name] if isinstance(version, dict) else version
            if v is None:
                v = head
            files = head_files if v == head else tx._read_version(v)["files"]
            return (name, tx, v) if files else None

        names = [
            n for n in READONLY_SCHEMAS
            if not isinstance(version, dict) or n in version
        ]
        with ThreadPoolExecutor(max_workers=8) as ex:
            resolved = [r for r in ex.map(_resolve, names) if r]
        for name, tx, v in resolved:  # ex.map preserves schema order
            tables[name] = tx.pin(v)
            handles[name] = (tx, v)
        lake = cls(tables)
        lake._tx = handles
        return lake

    def pruned(
        self,
        name: str,
        predicates: dict | None = None,
        eq: dict | None = None,
    ) -> DataFrame:
        """Table ``name`` with the given box predicates (``{col: (lo,
        hi)}``, a None edge open) and point predicates (``{col: value or
        IN-list}``) applied EXACTLY — every leaf scan of the query
        algebra and of result shaping reads through here, so how a table
        is physically served is decided in this one place:

        - a txlog-served table probed with at most
          :data:`PRUNE_KEYS_MAX` keys per eq column →
          :meth:`TxTable.skip_read`: manifest range stats + bloom words
          decide per FILE, driver-side, before any scan task launches,
          and the pinned version's relation is narrowed to those files
          with no filesystem call (the reference answers the
          same leaves through its clustered mk_hash / ev_count / agent-id
          btrees, readonly_schema.py:635-637).  Each such scan appends
          (name, files_read, files_total) to :attr:`prune_log`;
        - a longer eq list → a broadcast semi-join against a driver-built
          key frame (probing that many keys would admit every file
          anyway and burn the driver-side probe budget doing it);
        - a table with no txlog (an in-memory lake, an ``extra``
          frame), or an empty eq list → the plain frame, filtered;
        - neither predicates nor eq → the plain frame.

        Correctness never depends on the stats: the residual filter
        (:func:`plans.txlog.residual_filter`) is the same on every
        path."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from indra_db_spark.plans.txlog import (
            NoCommittedData,
            eq_lists,
            residual_filter,
        )
        from indra_db_spark.session import local_artifact_df

        boxes, eqs = dict(predicates or {}), eq_lists(eq)
        df = self._tables[name]
        if not boxes and not eqs:
            return df
        handle = self._tx.get(name)
        if handle is not None and all(
            0 < len(v) <= PRUNE_KEYS_MAX for v in eqs.values()
        ):
            tx, pinned = handle
            try:
                out, files_read, files_total = tx.skip_read(
                    predicates=boxes, eq=eqs, version=pinned
                )
            except NoCommittedData:
                pass  # nothing committed at the pin: the plain path below
            else:
                self.prune_log.append((name, files_read, files_total))
                return out
        for c in [c for c, v in eqs.items() if len(v) > PRUNE_KEYS_MAX]:
            keys = local_artifact_df(
                self.spark,
                [(v,) for v in eqs.pop(c)],
                StructType([df.schema[c]]),
            )
            df = df.join(F.broadcast(keys), c, "left_semi")
        return df.filter(residual_filter(boxes, eqs))

    @classmethod
    def from_rows(cls, spark: SparkSession, rows_by_table: dict[str, list]) -> "ReadonlyLake":
        """Build a lake from python row dicts (fixtures/tests)."""
        tables = {}
        for name, rows in rows_by_table.items():
            schema = READONLY_SCHEMAS[name]
            from indra_db_spark.session import local_artifact_df

            tables[name] = local_artifact_df(spark, rows, schema)
        return cls(tables)
