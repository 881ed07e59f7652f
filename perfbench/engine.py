"""The benchmark's side of the program boundary: Spark session, inputs on
disk, the served lake, the REST server and the independent DuckDB oracle.

Every call into the program goes through its public entry points
(``session.get_spark``, ``assembly.*``, ``ReadonlyLake``,
``service.rest.serve``, ``CurationStore``).  The benchmark reaches past
them only to observe: the lake's ``prune_log`` (kept for observers), the
scheduler's job counter (``traced.py``) and the JVM process handle, so a
run can wait for the JVM to exit.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import subprocess
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: JVM heap for the Spark driver: the corpus is small
DRIVER_MEM = "2g"


def pin_environment(work: Path, root: Path) -> int:
    """Pin cores, scratch dirs and the import path BEFORE the JVM starts;
    returns the core count.  ``get_spark`` defaults to local[32], which on
    a small box measures the scheduler rather than the engine."""
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, spark-submit's launcher included: temp files in the run's
    # own directory and no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the program too
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return cpus


#: Spark UI retention in the traced run: above any run's job count, or
#: per-span job attribution wraps
MAX_JOBS = 20000


def start_spark(work: Path, traced: bool):
    from indra_db_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),

        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # counters come from the live UI REST API; retention must outlast
        # the run's job count or per-request attribution wraps
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": str(MAX_JOBS),
            "spark.ui.retainedStages": str(MAX_JOBS * 4),
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": str(MAX_JOBS),
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def versions() -> dict:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pa.__version__,
    }


def loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


# ----------------------------------------------------------------- parquet


def _arrow_type(dt):
    from pyspark.sql import types as T

    simple = {
        T.IntegerType: pa.int32(), T.LongType: pa.int64(),
        T.StringType: pa.string(), T.BinaryType: pa.binary(),
        T.BooleanType: pa.bool_(), T.ShortType: pa.int16(),
        T.FloatType: pa.float32(), T.DoubleType: pa.float64(),
    }
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    return simple[type(dt)]


def write_rows(spark, rows: list[dict], schema, path: Path):
    """Rows -> one Parquet file (no Spark job) -> a DataFrame over it with
    the program's declared schema."""
    arrow = pa.schema([(f.name, _arrow_type(f.dataType)) for f in schema.fields])
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow), path / "part-0.parquet")
    return spark.read.schema(schema).parquet(str(path))


def write_principal(spark, corpus, base: Path) -> tuple[dict, object]:
    """The generated principal tables and ontology edges as DataFrames."""
    from pyspark.sql import types as T

    from indra_db_spark.schemas import PRINCIPAL_SCHEMAS

    principal = {
        name: write_rows(spark, rows, PRINCIPAL_SCHEMAS[name], base / name)
        for name, rows in corpus.tables.items()
    }
    onto_schema = T.StructType([
        T.StructField("child", T.StringType()),
        T.StructField("parent", T.StringType()),
    ])
    ontology = write_rows(
        spark, [{"child": c, "parent": p} for c, p in corpus.ontology],
        onto_schema, base / "ontology",
    )
    return principal, ontology


# ----------------------------------------------------------- release build


def statement_dict(corpus, s) -> dict:
    """The statement form the program hashes (``compute_mk_hash`` input)."""
    d = {"type": s.type, "agents": [corpus.agents[a].name for a in s.agents]}
    if s.residue is not None:
        d["residue"], d["position"] = s.residue, s.position
    if s.activity is not None:
        d["activity"], d["is_active"] = s.activity, s.is_active
    return d


def statement_hashes(corpus) -> list[int]:
    """The generator's statements as hashes the build must produce."""
    from indra_db_spark.assembly.preprocess import compute_mk_hash

    return [compute_mk_hash(statement_dict(corpus, s)) for s in corpus.statements]


def build_release(spark, principal: dict, ontology, root: Path) -> dict:
    """The release build: ``run_assembly`` over the principal tables, then
    every readonly table committed with ``write_txlog(stats=True)`` under
    ``root``.  Returns the build's frames; pass them to :func:`release`
    once done with them."""
    from indra_db_spark.assembly.pipeline import run_assembly
    from indra_db_spark.plans.lake import ReadonlyLake
    from indra_db_spark.schemas import READONLY_SCHEMAS

    out = run_assembly(principal, ontology)
    ReadonlyLake({k: out[k] for k in READONLY_SCHEMAS if k in out}).write_txlog(
        spark, str(root), stats=True
    )
    return out


def release(out: dict) -> None:
    """Drop the build's persisted intermediates."""
    for df in out.values():
        df.unpersist()


def served_lake(spark, corpus, cache: Path) -> Path:
    """The served release of ``corpus``, built once per program version by
    :func:`build_release` and kept under ``cache``: a cold build costs
    about a minute of Spark job overhead at any corpus size, more than a
    serving run may spend.  The key covers every source file of the
    program and of the generator, so a changed program is rebuilt.
    Layout: ``lake/`` (the txlog root) and ``pa_statements/`` (the build's
    statement table, which validates curation submits)."""
    h = hashlib.sha256(f"{corpus.seed}:{corpus.n_raw_target}".encode())
    sources = sorted((ROOT / "indra_db_spark").rglob("*.py")) + [HERE / "gen.py"]
    for f in sources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out_root = cache / f"served-{h.hexdigest()[:16]}"
    if (out_root / "COMPLETE").exists():
        return out_root
    for stale in cache.glob("building-*"):  # an interrupted build
        shutil.rmtree(stale, ignore_errors=True)
    tmp = cache / f"building-{os.getpid()}"
    principal, ontology = write_principal(spark, corpus, tmp / "input")
    out = build_release(spark, principal, ontology, tmp / "lake")
    out["pa_statements"].write.parquet(str(tmp / "pa_statements"))
    release(out)
    shutil.rmtree(tmp / "input")
    (tmp / "COMPLETE").touch()
    tmp.rename(out_root)
    return out_root


def tree_bytes(root: Path) -> int:
    return sum(f.stat().st_size for f in root.rglob("*") if f.is_file())


def parquet_files(root: Path) -> int:
    return sum(1 for _ in root.rglob("*.parquet"))


# ------------------------------------------------------------------ serve


class Server:
    """The REST front end over the served lake, with the curation write
    path mounted."""

    def __init__(self, spark, lake, curation_path: Path, pa_statements):
        from indra_db_spark.plans.principal import CurationStore
        from indra_db_spark.service.rest import serve

        self.store = CurationStore(spark, str(curation_path))
        self.httpd = serve(lake, curation=self.store, pa_statements=pa_statements)
        self.port = self.httpd.server_address[1]

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()


# ----------------------------------------------------------------- oracle


class Oracle:
    """Independent answers from DuckDB over the committed Parquet files of
    the served lake (the txlog manifest names them; DuckDB reads them)."""

    def __init__(self, root: Path):
        import duckdb

        self.con = duckdb.connect()
        self.root = root
        for name in ("name_meta", "other_meta", "source_meta", "fast_raw_pa_link"):
            files = committed_files(root / name)
            lst = ", ".join(f"'{f}'" for f in files)
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")

    def close(self) -> None:
        self.con.close()

    def count(self, table: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]

    def ev_total(self) -> int:
        return self.con.execute("SELECT sum(ev_count) FROM source_meta").fetchone()[0]

    def hashes(self) -> set[int]:
        return {r[0] for r in self.con.execute("SELECT mk_hash FROM source_meta").fetchall()}

    def medscan_only(self) -> int:
        return self.count("source_meta WHERE only_src = 'medscan'")

    _VISIBLE = (
        "mk_hash IN (SELECT mk_hash FROM source_meta "
        "WHERE only_src IS DISTINCT FROM 'medscan')"
    )

    def agent_page(self, ns: str, ident: str, type_num=None, limit=50) -> list[int]:
        table = "name_meta" if ns == "NAME" else "other_meta"
        where = ["db_id = ?", self._VISIBLE]
        args: list = [ident]
        if ns != "NAME":
            where.append("db_name = ?")
            args.append(ns)
        if type_num is not None:
            where.append("type_num = ?")
            args.append(type_num)
        sql = (
            f"SELECT DISTINCT mk_hash, ev_count FROM {table} WHERE "
            + " AND ".join(where)
            + f" ORDER BY ev_count DESC, mk_hash ASC LIMIT {int(limit)}"
        )
        return [r[0] for r in self.con.execute(sql, args).fetchall()]

    def subj_obj_page(self, subj: str, obj: str, limit=50) -> list[int]:
        sql = (
            "SELECT DISTINCT a.mk_hash, a.ev_count FROM name_meta a "
            "JOIN name_meta b ON a.mk_hash = b.mk_hash "
            "WHERE a.db_id = ? AND a.role_num = -1 AND b.db_id = ? "
            f"AND b.role_num = 1 AND a.{self._VISIBLE} "
            f"ORDER BY a.ev_count DESC, a.mk_hash ASC LIMIT {int(limit)}"
        )
        return [r[0] for r in self.con.execute(sql, [subj, obj]).fetchall()]

    def ev_count(self, mk_hash: int) -> int | None:
        r = self.con.execute(
            "SELECT ev_count FROM source_meta WHERE mk_hash = ?", [mk_hash]
        ).fetchone()
        return r[0] if r else None


def committed_files(table_root: Path) -> list[str]:
    """Data files of the latest committed version, read from the newest
    txlog manifest (segmented manifests are expanded)."""
    log = table_root / "_txlog"
    latest = max(p for p in log.glob("v*.json"))
    body = json.loads(latest.read_text())
    if body.get("dv"):
        raise ValueError(f"{table_root}: deletion vectors are not read here")
    if "files" in body:
        names = body["files"]
    else:
        names = []
        for seg in body.get("segments", ()):
            seg_body = json.loads((log / seg).read_text())
            names.extend(seg_body["files"] if isinstance(seg_body, dict) else seg_body)
    return [str(table_root / "data" / n) for n in names]


# --------------------------------------------------------------- resources


def process_tree() -> list[int]:
    """This process and all its descendants: the Python driver, the JVM
    and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s() -> float:
    """CPU seconds used so far by the process tree, including reaped
    children (Python workers the JVM has waited for).  Time the host
    steals from this machine is not in it."""
    ticks = 0
    for pid in process_tree():
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
