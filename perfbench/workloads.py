"""The benchmark's workloads: what one pass runs and how it is checked.

Every workload has the same shape:

* ``generate()`` writes the seeded inputs (benchmark-side, untimed);
* ``prepare(spark)`` is the program's own work that builds the starting
  tables (timed as part of ``setup_s``);
* ``reset()`` restores the starting state before a pass (untimed);
* ``warm_up(ctx)`` exercises every code path once, untimed, so the JVM's
  first compile of each plan falls outside the timed passes;
* ``run_pass(ctx)`` is one timed pass, one ``ctx.op`` per operation;
* ``check(ctx, out)`` compares a pass's outputs with what the inputs
  imply, one ``ctx.check`` per property.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import random
import re
import shutil
from contextlib import redirect_stdout
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen

# gzip -1 per input file: the executor's real byte transform
GZIP_CMD = 'for f in "$IN"/*; do gzip -1 -c "$f" > "$OUT/${f##*/}.gz" || exit 1; done'

# objects in the ingest root: non-matching, matching media
ETL_OTHER, ETL_MEDIA = 100, 20
# 1.0 = the 0.01 scale-factor fixture (60k lineitem rows)
QUERY_SCALE = 0.5

QUERIES = (
    "d14_hash_agg_q1", "d12_star_join", "x_tpch_q18_big_orders", "d06_keyed_dedup",
    "x_cosine_topk_np", "d37_sessionization",
)


def _read(path: Path):
    return pq.read_table(str(path)) if path.exists() else None


class EtlWorkload:
    """ingest -> tasker -> worker through ``chyme_spark.cli.main``, on
    empty catalog, tasks and ledger tables."""

    # timed passes per run: two 5-10 s passes fit the run budget
    min_passes = 2

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.tree = work / "tree"
        self.mirror = work / "mirror"
        self.state = work / "state"
        self.tables = {t: self.state / t for t in ("catalog", "tasks", "ledger", "quarantine")}

    # -- inputs ------------------------------------------------------------

    def generate(self) -> dict:
        self.manifest = gen.make_tree(str(self.tree), self.seed, ETL_OTHER, ETL_MEDIA)
        self.media = [e for e in self.manifest if e["media"]]
        return {
            "objects": len(self.manifest),
            "media": len(self.media),
            "manifest_sha256": gen.manifest_digest(self.manifest),
        }

    def url(self, entry: dict) -> str:
        return f"file://{self.tree}/{entry['path']}"

    def _template_args(self) -> list[str]:
        return ["--executor", "subprocess", "--mirror-base", f"file://{self.mirror}",
                "--cmd", GZIP_CMD]

    # -- state -------------------------------------------------------------

    def prepare(self, spark) -> None:
        pass  # the pipeline starts from empty tables

    def reset(self) -> None:
        for p in (self.state, self.mirror):
            shutil.rmtree(p, ignore_errors=True)
        self.state.mkdir(parents=True)

    def warm_up(self, ctx) -> None:
        """One untimed, checked pass: the JVM's first run of each plan
        shape costs several times a steady pass."""
        self.reset()
        self.check(ctx, self.run_pass(ctx))

    # -- one pass ----------------------------------------------------------

    def _verb(self, ctx, verb: str, layer: str, argv: list[str], pattern: str):
        buf = io.StringIO()
        with ctx.span(f"verb.{verb}", layer), redirect_stdout(buf):
            from chyme_spark import cli

            rc = cli.main(argv)
        m = re.search(pattern, buf.getvalue())
        if rc != 0 or m is None:
            raise RuntimeError(f"{verb} exited {rc}: {buf.getvalue()[-300:]!r}")
        return tuple(int(g) for g in m.groups())

    def run_pass(self, ctx) -> dict:
        t = {k: str(v) for k, v in self.tables.items()}
        out: dict = {}
        ctx.label("ingest")
        out["ingest"] = ctx.op("ingest", lambda: self._verb(
            ctx, "ingest", "catalog",
            ["ingest", f"file://{self.tree}", "--filter", gen.MEDIA_FILTER, "--catalog", t["catalog"]],
            r"ingested (\d+) new resources .*\((\d+) malformed skipped\)"))
        ctx.label("tasker")
        out["tasker"] = ctx.op("tasker", lambda: self._verb(
            ctx, "tasker", "tasker",
            ["tasker", "--catalog", t["catalog"], "--ledger", t["ledger"], "--tasks", t["tasks"],
             *self._template_args()],
            r"created (\d+) tasks"))
        ctx.label("worker")
        out["worker"] = ctx.op("worker", lambda: self._verb(
            ctx, "worker", "runner",
            ["worker", "--tasks", t["tasks"], "--ledger", t["ledger"], "--quarantine", t["quarantine"]],
            r"completed (\d+) tasks; quarantined (\d+)"))
        # every expected task is an operation; one not completed ok failed
        ctx.tasks(len(self.media), (out["worker"] or (0, 0))[0])
        return out

    def pass_counts(self, out: dict) -> dict:
        return {
            "objects": len(self.manifest),
            "tasks_ok": (out.get("worker") or (0, 0))[0],
            "rows_new": (out.get("ingest") or (0, 0))[0],
            "rows_quarantined": (out.get("ingest") or (0, 0))[1],
            "tasks_new": (out.get("tasker") or (0,))[0],
            "tasks_failed": (out.get("worker") or (0, 0))[1],
            "matching": len(self.media),
            # every task the fan-out produced: the tables start empty
            "tasks_rows": out.get("tasks_rows", 0),
        }

    # -- correctness -------------------------------------------------------

    def check(self, ctx, out: dict) -> None:
        media_urls = {self.url(e) for e in self.media}
        n_new = len(self.media)
        catalog, tasks = _read(self.tables["catalog"]), _read(self.tables["tasks"])
        ledger, quarantine = _read(self.tables["ledger"]), _read(self.tables["quarantine"])
        out["tasks_rows"] = tasks.num_rows if tasks is not None else 0

        def catalog_ok():
            urls = catalog.column("url")
            return (catalog.num_rows == len(self.media)
                    and pc.count_distinct(urls).as_py() == catalog.num_rows
                    and set(urls.to_pylist()) == media_urls)

        def tasks_ok():
            # each media object matches exactly one template (mov or mp4)
            return (tasks.num_rows == catalog.num_rows
                    and pc.count_distinct(tasks.column("task_hash")).as_py() == tasks.num_rows
                    and set(tasks.column("input_url").to_pylist()) == set(catalog.column("url").to_pylist()))

        def ledger_ok():
            h = ledger.column("task_hash")
            return (ledger.num_rows == tasks.num_rows
                    and pc.count_distinct(h).as_py() == ledger.num_rows
                    and set(h.to_pylist()) == set(tasks.column("task_hash").to_pylist()))

        def created_ok():
            # each verb made one row per media object, no more and no fewer
            ingest, tasker, worker = out.get("ingest"), out.get("tasker"), out.get("worker")
            return (ingest is not None and ingest[0] == n_new
                    and tasker is not None and tasker[0] == n_new
                    and worker is not None and worker[0] == n_new)

        def outputs_ok():
            for e in self.media:
                abs_path = f"{self.tree}/{e['path']}"
                gz = Path(f"{self.mirror}/{abs_path.lstrip('/')}/{Path(e['path']).name}.gz")
                if not gz.exists():
                    return False
                if hashlib.sha256(gzip.decompress(gz.read_bytes())).hexdigest() != e["sha256"]:
                    return False
            return True

        def quarantine_ok():
            ingest, worker = out.get("ingest"), out.get("worker")
            return (quarantine is None and ingest is not None and ingest[1] == 0
                    and worker is not None and worker[1] == 0)

        ctx.check("catalog", lambda: catalog is not None and catalog_ok())
        ctx.check("tasks", lambda: catalog is not None and tasks is not None and tasks_ok())
        ctx.check("ledger", lambda: tasks is not None and ledger is not None and ledger_ok())
        ctx.check("created", created_ok)
        ctx.check("outputs", outputs_ok)
        ctx.check("quarantine", quarantine_ok)


class QueryMix:
    """Registered queries through the ``noop`` sink. Pass ``n`` runs them
    in an order shuffled from ``n`` alone, the same in every run, so
    runs with different seeds differ only in their tables."""

    # passes are 3-5 s: four fit the run budget and steady the median
    min_passes = 4

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.tables = work / "tables"

    def generate(self) -> dict:
        rows = gen.make_tables(str(self.tables), self.seed, QUERY_SCALE)
        digest = hashlib.sha256()
        for name in sorted(rows):
            digest.update((self.tables / f"{name}.parquet").read_bytes())
        return {"rows": rows, "tables_sha256": digest.hexdigest()}

    def prepare(self, spark) -> None:
        from chyme_spark.registry import load_all
        from chyme_spark.session import TABLES, load_table

        self.registry = load_all()
        for t in TABLES:
            load_table(spark, str(self.tables), t)

    def reset(self) -> None:
        pass

    def order(self, pass_no: int) -> list[str]:
        names = list(QUERIES)
        random.Random(pass_no).shuffle(names)
        return names

    def run_pass(self, ctx) -> dict:
        spark, sf = ctx.spark, str(self.tables)
        ctx.label("query")
        for q in self.order(ctx.pass_no):
            def one(q=q):
                with ctx.span(f"ops.{q}.plan", "ops"):
                    df = self.registry[q].fn(spark, sf)
                with ctx.span(f"ops.{q}.exec", "ops"):
                    df.write.format("noop").mode("overwrite").save()
            ctx.op(q, one)
        return {}

    def pass_counts(self, out: dict) -> dict:
        return {}

    def check(self, ctx, out: dict) -> None:
        pass  # the noop sink leaves nothing to check; warm_up() verified

    def warm_up(self, ctx) -> None:
        """The correctness collect of every query is the first run of its
        plan; after it the first noop pass is within a sixth of a steady
        one, so no separate noop warm-up pass is run."""
        self.verify(ctx)

    def verify(self, ctx) -> None:
        """Untimed collect of every query, hashed and compared with its
        DuckDB oracle."""
        import duckdb
        from check_oracle import table_hash

        from chyme_spark.session import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
        for q in QUERIES:
            def same(q=q):
                df = self.registry[q].fn(ctx.spark, str(self.tables))
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                cur = con.execute(self.registry[q].oracle)
                ocols = [d[0] for d in cur.description]
                return table_hash(cols, rows) == table_hash(ocols, cur.fetchall())
            ctx.check(q, same)
        con.close()


WORKLOADS = {
    "etl_cold": EtlWorkload,
    "query_mix": QueryMix,
}
