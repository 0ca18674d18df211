"""The three workloads. Each is a closed loop with one client: an op is
issued only after the previous one returned, and every op's output is
checked. A workload has a ``setup`` and a ``round`` (one pass over its op
list); the runner runs one untimed warm-up round (unless the workload
turns ``warm_up`` off), then repeats rounds for the requested number of
seconds.

In a traced run, after an op and outside its timing, the op's DuckDB
twin, if it has one, runs on the same data.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import sys
import time
import traceback
from urllib.parse import urlsplit

import duckdb

from perfbench.stats import seeded_ops
from perfbench.trace import catalyst_ms, python_nodes

# pipeline spec -> the module its work lives in (the span and metric prefix)
PIPELINE_SPECS = {
    "m02_media_features": "multimodal.m02",
    "v01_vector_index_probe": "vector_index.v01",
}

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

TWIN_REPS = 3  # DuckDB runs per twin sample; the median is kept


class Workload:
    """Op bookkeeping shared by the workloads: latency samples by op kind,
    attempted/failed counts, output checks, DuckDB twins and, when traced,
    Spark's counters per op."""

    name = ""
    warm_up = True  # run one untimed round before the timed ones

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf = ctx.sf_dir
        self.tracer = ctx.tracer
        self.span = ctx.tracer.span
        self.samples: list = []  # (op kind, op name, seconds)
        self.round_s: list = []  # op seconds of each timed round
        self.attempted = 0
        self.failed = 0
        self.check_failures: list = []
        self.op_counters: list = []  # traced ops: Spark + Catalyst + Python
        self.collect_s = 0.0  # time spent reading counters, outside ops
        self.twin: dict = {}  # op name -> DuckDB seconds samples
        self.frames: list = []
        self.timed = False
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {ctx.cpus}")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'"
            )

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.check_failures.append(what)
        return ok

    def op(self, kind: str, name: str, fn) -> None:
        """Run one op. ``fn`` returns True when its output checked out; the
        DataFrames it planned through :meth:`count` are kept in
        ``self.frames`` so their Catalyst and Python counters can be read."""
        traced = self.tracer.enabled
        probe = self.ctx.probe
        mark = probe.mark() if traced else None
        self.frames = []
        ok = False
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.check_failures.append(f"{name} raised")
        wall = time.perf_counter() - t0
        if not self.timed:
            return
        self.attempted += 1
        if not ok:
            self.failed += 1
            wall = float("inf")  # a failed op misses every latency limit
        self.samples.append((kind, name, wall))
        if traced:
            c0 = time.perf_counter()
            c = probe.jobs_since(mark)
            c["op"] = name
            c["wall"] = wall
            for p in ("analysis", "optimization", "planning"):
                c[p] = 0
            for df, fresh in self.frames:
                ms = catalyst_ms(df)
                for p in ms:
                    if fresh or p != "analysis":
                        c[p] += ms[p]
            py = python_nodes(self.frames[-1][0]) if self.frames else {}
            for k in ("nodes", "rows_to", "bytes_to", "bytes_from"):
                c["py_" + k] = py.get(k, 0)
            self.op_counters.append(c)
            self.collect_s += time.perf_counter() - c0

    def count(self, df, fresh: bool = True) -> int:
        """Plan, then run, a count over ``df``; the spans split Catalyst
        planning from Spark execution. ``fresh`` says whether ``df`` was
        analyzed for this op (a memoized plan was analyzed earlier)."""
        from pyspark.sql import functions as F

        return self.aggregate(df, F.count(F.lit(1)), fresh=fresh)[0]

    def aggregate(self, df, *cols, fresh: bool = True):
        """The one row of ``df.agg(*cols)``, planned and run as
        :meth:`count` does."""
        with self.span("catalyst.plan"):
            cagg = df.agg(*cols)
            cagg._jdf.queryExecution().executedPlan()
        with self.span("spark.execute"):
            row = cagg.collect()[0]
        self.frames += [(df, fresh), (cagg, True)]
        return row

    def duck(self, sql: str):
        """Rows of ``sql`` in DuckDB and the median seconds of TWIN_REPS
        runs."""
        times = []
        for _ in range(TWIN_REPS):
            t0 = time.perf_counter()
            rows = self.con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
        return rows, statistics.median(times)

    def twin_sql(self, name: str, sql: str, want_rows: int) -> None:
        """Time ``sql`` as the DuckDB twin of op ``name`` (after a timed
        op of a traced run, outside its timing) and check it returned
        ``want_rows``."""
        if not self.tracer.enabled:
            return
        with self.ctx.bench_only():
            rows, secs = self.duck(sql)
        self.check(len(rows) == want_rows, f"{name} twin rows")
        self.twin.setdefault(name, []).append(secs)

    def close(self) -> None:
        self.con.close()

    def extra_report(self) -> dict:
        return {}


class OlapRead(Workload):
    """The 12 headline queries over the generated tables. One op is
    build + plan + execute-to-completion of one query; the set-up runs
    every query once, so the timed rounds see warm plan memos, codegen
    cache and JIT, as a long-lived analyst session does."""

    name = "olap_read"

    def setup(self) -> None:
        from bench import HEADLINE
        from ducktales_spark.registry import load_all

        self.queries = HEADLINE
        self.specs = load_all()
        self.seen: set = set()
        with self.ctx.bench_only():
            self.expected = {
                q: len(self.con.execute(self.specs[q].oracle).fetchall())
                for q in self.queries
            }

    def _query(self, q: str) -> bool:
        with self.span("queries.build"):
            df = self.specs[q].fn(self.spark, self.sf)
        fresh = id(df) not in self.seen
        self.seen.add(id(df))
        n = self.count(df, fresh)
        return self.check(n == self.expected[q], f"{q}: {n} rows")

    def round(self, r: int) -> None:
        for q in seeded_ops(self.ctx.seed, self.name, r, self.queries):
            self.op("read", q, lambda: self._query(q))
            self.twin_sql(q, self.specs[q].oracle, self.expected[q])


class LakeTxn(Workload):
    """A transactional lake: inlined single-row inserts through SQL and the
    API, 1k-row inserts, predicate update/delete, MERGE upserts, HEAD and
    time-travel reads, metadata calls, one streaming micro-batch into a
    rollup, and maintenance at the end of each round."""

    name = "lake_txn"
    KEEP_LAST = 80  # > the catalog's 64-entry read cache
    BASE_KEYS = 15000  # orders rows the lake is seeded with
    # HEAD reads in a row. The first after a commit misses the read cache;
    # with six, hits outnumber the misses and time-travel reads together,
    # so the median read is a hit rather than the boundary between the two
    HEAD_BURST = 6

    # A fixed interleaving of writes and reads: which code path an op takes
    # (a MERGE over inlined rows or not, a read-cache hit or miss) depends
    # on what ran before it, so a seeded order would change the work from
    # seed to seed. The seed changes the rows, keys, predicates and the
    # versions read.
    ROUND = ["sql_insert", "head_burst", "api_insert", "insert_1k",
             "time_travel", "update", "head_burst", "sql_insert", "delete",
             "snapshots", "merge", "time_travel", "api_insert", "table_info",
             "stream", "head_burst", "time_travel"]
    # the warm-up round runs each op once: enough to compile its plans
    WARM_UP = list(dict.fromkeys(ROUND))

    def setup(self) -> None:
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
            TimestampType,
        )

        from ducktales_spark.data import table
        from ducktales_spark.lake import LakeCatalog, create_rollup

        self.rng = random.Random(f"{self.ctx.seed}:lake")
        work = self.ctx.work
        self.lake_dir = os.path.join(work, "lake")
        self.stream_src = os.path.join(work, "stream_src")
        self.ckpt = os.path.join(work, "stream_ckpt")
        os.makedirs(self.stream_src)
        self.lake = LakeCatalog(self.lake_dir, self.spark)
        self.lake.ctas("orders", table(self.spark, self.sf, "orders"))
        self.lake.ctas("events", table(self.spark, self.sf, "events"))
        create_rollup(self.lake, "events_hourly", "events", "ts", 3600,
                      keys=("event_type",), sum_cols=("value",))
        self.orders_schema = self.lake.read("orders").schema
        self.events_schema = StructType([
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ])
        # the model of the expected state, kept from the ops' return values
        self.n_orders = self.BASE_KEYS
        self.n_events = 10000
        self.next_key = 10_000_000
        self.next_event = 10_000_000
        self.counts_at = {}  # version -> orders rows committed there
        self.read_versions = set()  # versions whose read plan is cached
        self._committed()
        self.ctx.phase("seed")

    def _committed(self) -> None:
        self.counts_at[self.lake.current_version()] = self.n_orders

    def _order_row(self) -> tuple:
        k = self.next_key
        self.next_key += 1
        r = self.rng
        day = dt.datetime(r.randrange(1995, 2002), r.randrange(1, 13),
                          r.randrange(1, 29))
        return (k, r.randrange(1500), r.choice("FOP"),
                round(r.uniform(1000, 500000), 2), day,
                r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]))

    def _orders_df(self, n: int, existing: int = 0):
        """``n`` seeded order rows; the first ``existing`` reuse distinct
        seeded keys (MERGE's matched half, unless a delete took them)."""
        rows = [self._order_row() for _ in range(n)]
        for i, k in enumerate(self.rng.sample(range(self.BASE_KEYS), existing)):
            rows[i] = (k,) + rows[i][1:]
        return self.spark.createDataFrame(rows, self.orders_schema)

    def _sql_insert(self) -> bool:
        k, c, s, p, d, pr = self._order_row()
        with self.span("lake_sql.insert_values"):
            self.lake.sql(
                f"INSERT INTO orders VALUES ({k}, {c}, '{s}', {p}, "
                f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}', '{pr}')"
            )
        self.n_orders += 1
        self._committed()
        return True

    def _api_insert(self) -> bool:
        row = self._order_row()
        with self.span("lake.insert_rows"):
            with self.lake.transaction() as tx:
                tx.insert_rows("orders", [row])
        self.n_orders += 1
        self._committed()
        return True

    def _insert_1k(self, df) -> bool:
        with self.span("lake.insert"):
            self.lake.insert("orders", df)
        self.n_orders += 1000
        self._committed()
        return True

    def _update(self, m: int) -> bool:
        with self.span("lake.update"):
            n = self.lake.update("orders", {"o_totalprice": "o_totalprice + 1"},
                                 where=f"o_custkey % 50 = {m}")
        self._committed()
        return self.check(0 < n < self.n_orders, f"update touched {n}")

    def _delete(self, m: int) -> bool:
        with self.span("lake.delete"):
            n = self.lake.delete("orders", where=f"o_custkey % 50 = {m}")
        self.n_orders -= n
        self._committed()
        return self.check(0 < n, f"delete removed {n}")

    def _merge(self, src) -> bool:
        with self.span("lake.merge"):
            res = self.lake.merge("orders", src, on=["o_orderkey"])
        self.n_orders += res["inserted"]
        self._committed()
        return self.check(res["matched"] + res["inserted"] == 2000,
                          f"merge {res}")

    def _read(self, version, kind: str) -> bool:
        self.read_versions.add(
            self.lake.current_version() if version is None else version)
        with self.span(f"lake.read_plan.{kind}"):
            df = self.lake.read("orders", version=version)
        n = self.count(df, fresh=False)
        want = self.n_orders if version is None else self.counts_at[version]
        return self.check(n == want, f"orders@{version}: {n} != {want}")

    def _twin_read(self, version, name: str) -> None:
        """The same read in DuckDB over the same live data files (the
        inlined rows, a few dozen at most, live in the catalog DB); traced
        runs only, like every twin."""
        if not self.tracer.enabled:
            return
        files = self.lake.file_stats("orders", version)
        paths = ", ".join(f"'{urlsplit(f['path']).path}'" for f in files)
        with self.ctx.bench_only():
            rows, secs = self.duck(f"SELECT count(*) FROM read_parquet([{paths}])")
        self.check(rows[0][0] == sum(f["row_count"] for f in files),
                   "twin file rows")
        self.twin.setdefault(name, []).append(secs)

    def _stream(self, n: int) -> bool:
        from ducktales_spark.streaming.ingest import start_rollup_ingest

        with self.span("streaming.batch"):
            q = start_rollup_ingest(
                self.spark.readStream.schema(self.events_schema).parquet(
                    self.stream_src),
                self.lake, "events", "events_hourly",
                checkpoint_dir=self.ckpt, available_now=True,
            )
            q.awaitTermination()
        self.n_events += n
        self._committed()
        return self.check(q.exception() is None, "stream batch")

    def _rollup_read(self) -> bool:
        from pyspark.sql import functions as F

        from ducktales_spark.lake.rollup import read_rollup

        with self.span("rollup.read"):
            df = read_rollup(self.lake, "events_hourly")
            agg = df.agg(F.sum("n_rows").cast("long"))
        with self.span("spark.execute"):
            n = agg.collect()[0][0]
        self.frames.append((agg, True))
        return self.check(n == self.n_events, f"rollup rows {n}")

    def _maintenance(self) -> bool:
        with self.span("lake.maintenance"):
            self.lake.flush_inlined("orders")
            self.lake.compact("orders")
            self.lake.expire_snapshots(keep_last=self.KEEP_LAST)
        self._committed()
        oldest = self.lake.current_version() - self.KEEP_LAST + 1
        self.counts_at = {v: c for v, c in self.counts_at.items() if v >= oldest}
        return True

    def _metadata(self, what: str) -> bool:
        if what == "snapshots":
            with self.span("metastore.snapshots"):
                snaps = self.lake.snapshots()
            return self.check(
                snaps[-1]["snapshot_id"] == self.lake.current_version(),
                "snapshots head")
        with self.span("metastore.table_info"):
            info = {t["table_name"]: t for t in self.lake.table_info()}
        return self.check(info["orders"]["row_count"] == self.n_orders,
                          "table_info rows")

    def _write_stream_file(self, r: int) -> int:
        """Seeded events rows for one micro-batch, as a new source file."""
        import pandas as pd

        n, rng = 200, self.rng
        base = self.next_event
        self.next_event += n
        pd.DataFrame({
            "event_id": range(base, base + n),
            "ts": [dt.datetime(2024, 1, rng.randrange(1, 29), rng.randrange(24))
                   for _ in range(n)],
            "user_id": [rng.randrange(150) for _ in range(n)],
            "event_type": [rng.choice(["click", "view", "error"]) for _ in range(n)],
            "value": [round(rng.uniform(0, 490), 2) for _ in range(n)],
            "props": ['{"k": 1}'] * n,
        }).astype({"ts": "datetime64[us]"}).to_parquet(
            os.path.join(self.stream_src, f"batch{r}.parquet"))
        return n

    def round(self, r: int) -> None:
        for o in self.ROUND if r else self.WARM_UP:
            if o == "sql_insert":
                self.op("small_write", o, self._sql_insert)
            elif o == "api_insert":
                self.op("write", o, self._api_insert)
            elif o == "insert_1k":
                with self.ctx.bench_only():
                    df = self._orders_df(1000)
                self.op("write", o, lambda: self._insert_1k(df))
            elif o in ("update", "delete"):
                m = self.rng.randrange(50)
                fn = self._update if o == "update" else self._delete
                self.op("write", o, lambda: fn(m))
            elif o == "merge":
                with self.ctx.bench_only():
                    src = self._orders_df(2000, existing=1000)
                self.op("write", o, lambda: self._merge(src))
            elif o in ("snapshots", "table_info"):
                self.op("meta", o, lambda: self._metadata(o))
            elif o == "stream":
                with self.ctx.bench_only():
                    n = self._write_stream_file(r)
                self.op("write", o, lambda: self._stream(n))
                self.op("read", "rollup_read", self._rollup_read)
            elif o == "head_burst":
                for _ in range(self.HEAD_BURST):
                    self.op("read", "head_read", lambda: self._read(None, "head"))
                self._twin_read(None, "head_read")
            elif o == "time_travel":
                # a version no read has touched: the catalog's read cache
                # misses, as it does for history older than its 64 entries
                v = self.rng.choice(sorted(set(self.counts_at) - self.read_versions))
                self.op("read", o, lambda: self._read(v, "time_travel"))
                self._twin_read(v, o)
        self.op("write", "maintenance", self._maintenance)

    def begin_timed(self) -> None:
        self.files_before = _data_files(self.lake.root)

    def extra_report(self) -> dict:
        """Storage figures, measured after the run and outside timing."""
        def tree_bytes(path, ext=None):
            return sum(os.path.getsize(p) for p in _walk(path, ext))

        files = _data_files(self.lake.root)
        new = {p: b for p, b in files.items() if p not in self.files_before}
        stored = tree_bytes(self.lake_dir)
        fresh = os.path.join(self.ctx.work, "fresh")
        for t in self.lake.tables():
            self.lake.read(t).coalesce(1).write.parquet(os.path.join(fresh, t))
        info = {t["table_name"]: t for t in self.lake.table_info()}
        return {
            "stored_bytes_per_user_byte": stored / tree_bytes(fresh, ".parquet"),
            "files_live": info["orders"]["file_count"],
            "data_files_on_disk": len(files),
            "db_mb": (stored - tree_bytes(self.lake.root)) / 2**20,
            "files_written": len(new),
            "mb_written": sum(new.values()) / 2**20,
        }


def _walk(path: str, ext=None) -> list:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if ext is None or f.endswith(ext)]


def _data_files(root: str) -> dict:
    return {p: os.path.getsize(p) for p in _walk(root, ".parquet")}


class Pipeline(Workload):
    """LLM data preparation: prepare_training_corpus (quality gate, PII
    redaction, exact and MinHash near-duplicate removal through the
    connected-components loop, chunking), then the media-features and
    vector-index build + probe specs, in that fixed order.

    No warm-up round: a data-prep job runs once per driver process, so its
    users pay plan compilation on every run, and the timed round is that
    first pass. (The fuzzy-decontamination, connected-components and
    IVF-family specs, c05, g01 and e02, are left out to keep a run within
    the benchmark's time budget; the corpus runs g01's components loop.)"""

    name = "pipeline"
    warm_up = False

    def setup(self) -> None:
        from ducktales_spark.registry import load_all

        self.specs = load_all()
        with self.ctx.bench_only():
            self.expected = {
                q: len(self.con.execute(self.specs[q].oracle).fetchall())
                for q in PIPELINE_SPECS
            }
        # the first job of a fresh JVM pays for compiling Spark's own job
        # path; run it here so the cold pass times the pipeline alone
        self.spark.range(1).count()
        self.ctx.phase("first_job")

    def _corpus(self) -> bool:
        from pyspark.sql import functions as F

        from ducktales_spark.data import table
        from ducktales_spark.pipelines import prepare_training_corpus

        with self.span("pipelines.corpus.build"):
            out = prepare_training_corpus(table(self.spark, self.sf, "documents"))
        with self.span("pipelines.corpus.exec"):
            n, docs, longest = self.aggregate(
                out["chunks"], F.count(F.lit(1)), F.countDistinct("doc_id"),
                F.max("n_chunk_tokens"))
        # one pass, so no earlier round to compare the count with; every
        # generated document is shorter than the 512-token budget, so each
        # survivor makes exactly one chunk
        return self.check(
            0 < n == docs and longest <= 512,
            f"corpus: {n} chunks of {docs} documents, longest {longest}")

    def _spec(self, q: str) -> bool:
        layer = PIPELINE_SPECS[q]
        with self.span(f"{layer}.build"):
            df = self.specs[q].fn(self.spark, self.sf)
        with self.span(f"{layer}.{'probe' if q.startswith('v01') else 'exec'}"):
            n = self.count(df)
        return self.check(n == self.expected[q], f"{q}: {n} rows")

    def round(self, r: int) -> None:
        # a pipeline runs its stages in a fixed order; the seed changes
        # only its data
        self.op("read", "corpus", self._corpus)
        for q in PIPELINE_SPECS:
            self.op("read", q, lambda: self._spec(q))
            self.twin_sql(q, self.specs[q].oracle, self.expected[q])


WORKLOADS = {w.name: w for w in (OlapRead, LakeTxn, Pipeline)}
