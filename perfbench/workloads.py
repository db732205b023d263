"""The benchmark's workloads and their output checks.

Every workload is a closed loop with one client: the next operation is
sent only after the previous one completed. An operation is one
registry query (builder call plus a ``noop`` materialization) or one
document-ETL batch (listing scan plus ``run_document_etl``).

- ``registry`` runs a fixed set of registry queries (``REGISTRY``) that
  covers all ten operator modules: short multi-stage relational plans,
  where per-job and per-stage scheduling, plan construction and shuffle
  dominate, next to the corpus operators' iterative fixpoints
  (builder-side convergence probes and eager checkpoints) and
  Arrow/pandas kernels, where builder actions and Python-worker CPU
  dominate. The per-module breakdown of a traced run separates the two.
- ``doc_etl`` runs the paper's pipeline on seeded request batches into
  one lake per run; it is the only workload that writes and the only
  one that reaches ``sources``, ``ports`` and ``sinks``, and it runs no
  fixpoint, so it bypasses the builder-side actions ``registry``
  exercises.

One pass over a whole registry family takes 30-40 s even on tiny
tables, and a doc_etl batch ~6.5 s of fixed per-job work: more than a
benchmark run can spend, hence the fixed subset, one-batch passes and
small batches.
The seed fixes the generated data and each pass's query order.
"""

from __future__ import annotations

import gc
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass
from functools import reduce

import datagen
from spans import SparkStores, Tracer, covered

# One query set over both registry families: the document/relational
# family (``relational``, ``documents``, ``jsonops``, ``extraction``;
# q94/q118 are its tail) and the corpus family (``dedup``,
# ``similarity``, ``textops``, ``trainprep``, ``multimodal``,
# ``blocks``; q75 runs 16 of its 18 jobs inside the builder call).
REGISTRY = (
    "q94_quantity_price_stats",
    "q118_part_pair_baskets",
    "q17_metadata_merge",
    "q36_request_decode",
    "q31_extract_polizas",
    "q75_neardup_fixpoint",
    "q24_topk_cosine",
    "q26_text_stats",
    "q101_rag_chunking",
    "q38_image_features",
    "q34_blocks_page_text",
)


@dataclass(frozen=True)
class Sizes:
    table_sf: float = 0.002  # generated table scale (test-table sf units)
    # documents per doc_etl batch: a batch costs ~6.5 s of fixed work
    # plus ~0.16 s per document, so small batches leave a run the time to
    # settle and measure two warm batches, as a registry run does passes
    batch_docs: int = 10
    # warm passes (doc_etl: batches) measured at least, whatever --seconds
    # says; traced runs measure this many on each side
    min_passes: int = 2


SMOKE = Sizes(table_sf=0.001, batch_docs=24, min_passes=1)


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark, data_dir: str) -> None:
    """JVM, codegen, parquet footers and a pooled Python worker that has
    already imported numpy and pandas."""
    from pyspark.sql import functions as F

    _noop(spark.read.parquet(f"{data_dir}/lineitem.parquet").groupBy("l_returnflag").agg(F.count("*")))

    def warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    _noop(spark.range(1000, numPartitions=n).mapInPandas(warm, "id long"))


def setup(data_dir: str, extra_conf: dict[str, str]):
    """``session.get_spark`` plus the warmup; returns (spark, start_s, total_s)."""
    from sbs_suptech_etl_v2_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    _warmup(spark, data_dir)
    return spark, t1 - t0, time.perf_counter() - t0


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(live heap after a full GC, peak RSS a.k.a. VmHWM) of the driver JVM.

    The live heap is what the run retains (cached tables, checkpoint
    blocks); the peak RSS follows when the collector happened to run
    and moved by 2x between runs of one seed, so it is reported but
    not bounded."""
    jvm = spark._jvm
    # released frames free their checkpoint blocks through the async
    # ContextCleaner, which runs once a JVM GC has enqueued the refs
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    live = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return live / 2**20, hwm / 1024.0


# --- operations -------------------------------------------------------------


class QueryOps:
    """Registry queries as operations, plus their oracle check."""

    def __init__(self, spark, data_dir: str, names: tuple[str, ...], seed: int):
        from sbs_suptech_etl_v2_spark.registry import QUERIES

        self.spark, self.data_dir, self.names = spark, data_dir, names
        self.queries = QUERIES
        self.rng = random.Random(seed)
        # the frame of the operation in flight, released once after() ran,
        # so no frame (nor its checkpoint blocks) outlives its operation
        self.current = None
        # set for the untimed settle pass: its operations materialize with
        # collect() and keep each query's rows for the oracle check
        self.keep_rows = False
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}

    def pass_items(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def items(self, name: str) -> int:
        return 1

    def prepare(self, name: str) -> None:
        pass

    def run(self, name: str) -> None:
        self.current = df = self.queries[name](self.spark, self.data_dir)
        if self.keep_rows:
            cols = sorted(df.columns)
            self.rows[name] = cols, [tuple(r[c] for c in cols) for r in df.collect()]
        else:
            _noop(df)

    def run_traced(self, name: str, op: str, tracer: Tracer) -> None:
        sc = self.spark.sparkContext
        fn = self.queries[name]
        sc.setJobGroup(f"{op}:build", name)
        with tracer.span("build"):
            with tracer.span(f"operators.{_module(fn)}.{fn.__name__}"):
                self.current = df = fn(self.spark, self.data_dir)
        sc.setJobGroup(f"{op}:exec", name)
        with tracer.span("exec"):
            _noop(df)

    def after(self, name: str) -> bool:
        self.current = None
        gc.collect()  # let the ContextCleaner drop this query's checkpoint blocks
        return True

    def check(self) -> set[str]:
        """Names whose result differs from the DuckDB oracle."""
        import duckdb

        from sbs_suptech_etl_v2_spark.io import TABLES
        from sbs_suptech_etl_v2_spark.paritycheck import canon_grid
        from sbs_suptech_etl_v2_spark.registry import ORACLE

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
        bad = set()
        try:
            for name in sorted(set(self.names)):
                if name not in self.rows:  # its every run raised
                    bad.add(name)
                    continue
                cols, srows = self.rows[name]
                if name not in ORACLE:  # rows-only by design (q43)
                    if not srows:
                        bad.add(name)
                    continue
                types = {r[0]: str(r[1]) for r in con.execute("DESCRIBE " + ORACLE[name]).fetchall()}
                cur = con.execute(ORACLE[name])
                ocols = [d[0] for d in cur.description]
                idx = sorted(range(len(ocols)), key=lambda i: ocols[i])
                orows = [tuple(r[i] for i in idx) for r in cur.fetchall()]
                if cols != [ocols[i] for i in idx] or canon_grid(cols, srows, types) != canon_grid(cols, orows, types):
                    bad.add(name)
        finally:
            con.close()
        return bad

    def close(self) -> None:
        self.current = None
        self.rows.clear()


def timing_port_factory(stats_dir: str):
    """A ``port_factory`` whose fake-LLM port records its calls and busy
    time, one stats file per port instance (i.e. per task)."""

    def factory():
        import uuid

        from sbs_suptech_etl_v2_spark.ports.transformer import FakeTransformer

        path = os.path.join(stats_dir, uuid.uuid4().hex)
        lock = threading.Lock()
        state = {"calls": 0, "busy_s": 0.0}

        def timed(method):
            def call(content):
                t0 = time.perf_counter()
                try:
                    return method(content)
                finally:
                    dt = time.perf_counter() - t0
                    with lock:
                        state["calls"] += 1
                        state["busy_s"] += dt
                        with open(path, "w") as fh:
                            json.dump(state, fh)

            return call

        port = FakeTransformer()
        for m in ("llm_caller_polizas", "llm_caller_tasaciones", "llm_caller_inscripciones"):
            setattr(port, m, timed(getattr(port, m)))
        return port

    return factory


class DocEtlOps:
    """Document-ETL batches as operations, each checked right after it
    ran (outside its timing) against the corpus ground truth."""

    def __init__(self, spark, run_root: str, seed: int, batch_docs: int):
        self.spark = spark
        self.corpus = datagen.DocCorpus(os.path.join(run_root, "requests"), seed, batch_docs)
        self.lake = os.path.join(run_root, "lake")
        self.stats_root = os.path.join(run_root, "port_stats")
        self.batch_docs = batch_docs
        self.notifiers: dict[int, object] = {}
        self.results: dict[int, list] = {}
        self.layer: dict[int, dict[str, float]] = {}

    def pass_items(self) -> list[int]:
        return [len(self.corpus.batches)]

    def items(self, batch: int) -> int:
        return self.batch_docs

    def _requests(self, batch: int):
        from pyspark.sql import functions as F

        from sbs_suptech_etl_v2_spark.sources import entrypoints

        root = self.corpus.batch_dir(batch)
        frames = []
        for prefix, (doc_type, _) in datagen.PREFIXES.items():
            listed = entrypoints.listing_scan(self.spark, root, prefix)
            # the listing's period columns are already refined; the plan
            # refines the raw "{Mes} {Año}" tokens itself
            folder = F.split(F.split(F.col("key"), "/").getItem(0), " ")
            frames.append(
                listed.select(
                    F.regexp_extract("basename", r"^(.*)\.pdf$", 1).alias("record_id"),
                    F.lit(f"P{batch}").alias("parent_id"),
                    "key",
                    F.lit(f"S{batch}").alias("session_id"),
                    F.lit(doc_type).alias("document_type"),
                    folder.getItem(0).alias("period_month"),
                    folder.getItem(1).alias("period_year"),
                    "content",
                )
            )
        return reduce(lambda a, b: a.unionByName(b), frames)

    def prepare(self, batch: int) -> None:
        """Write the batch's request files and open its notifier (untimed)."""
        from sbs_suptech_etl_v2_spark.sinks.writers import NotificationBatchWriter

        self.corpus.add_batch()
        self.notifiers[batch] = NotificationBatchWriter()

    def run(self, batch: int) -> None:
        from sbs_suptech_etl_v2_spark.plans import document_etl

        self.results[batch] = document_etl.run_document_etl(
            self.spark, self._requests(batch), self.lake, self.notifiers[batch]
        )

    def run_traced(self, batch: int, op: str, tracer: Tracer) -> None:
        sc = self.spark.sparkContext
        inner = self.notifiers[batch]
        stats = os.path.join(self.stats_root, str(batch))
        os.makedirs(stats, exist_ok=True)

        def notifier(df, batch_id):
            with tracer.span("sinks.writers.notify"):
                inner(df, batch_id)

        sc.setJobGroup(f"{op}:build", f"batch {batch}")
        with tracer.span("build"):
            requests = self._requests(batch)
        sc.setJobGroup(f"{op}:exec", f"batch {batch}")
        with tracer.span("exec"):
            from sbs_suptech_etl_v2_spark.plans import document_etl

            self.results[batch] = document_etl.run_document_etl(
                self.spark, requests, self.lake, notifier, port_factory=timing_port_factory(stats)
            )

    def after(self, batch: int) -> bool:
        """Check the batch's results, notifications and the lake state."""
        import pyarrow.parquet as pq

        from sbs_suptech_etl_v2_spark.operators.documents import FIRST_PAGES, PAGE_WORDS

        docs = self.corpus.batches[batch]
        collected = self.results.pop(batch).collect()
        rows = {r["record_id"]: r for r in collected}
        problems = []
        def wrong(d) -> bool:
            r = rows.get(d.record_id)
            if not d.ok:
                # a failed extract (zero-byte request) is correct reported
                # success=False or absent: Spark's file scan skips empty
                # files, so the listing may never return it
                return r is not None and r["success"] is not False
            return r is None or r["success"] is not True or r["flow"] != datagen.PREFIXES[d.prefix][1]

        if (
            len(rows) != len(collected)
            or not set(rows) <= {d.record_id for d in docs}
            or any(wrong(d) for d in docs)
        ):
            problems.append("results")
        sent = self.notifiers[batch].sent_batches
        chunks = [len(c) for c in sent]
        entries = [e for c in sent for e in c]
        if not all(0 < n <= 10 for n in chunks):
            problems.append("chunk size")
        if sorted(e["Id"] for e in entries) != sorted(d.record_id for d in docs if d.ok):
            problems.append("notified ids")
        for e in entries:
            body = json.loads(e["MessageBody"])
            if body["sessionId"] != f"S{batch}" or body["data"] != {"recordId": e["Id"], "parentId": f"P{batch}"}:
                problems.append("notification body")
                break
        meta = {
            r["record_id"]: dict(r["metadata"])
            for r in pq.read_table(os.path.join(self.lake, "metadata")).to_pylist()
        }
        if meta != self.corpus.expected_metadata(batch + 1):
            problems.append("metadata")
        txt_dir = os.path.join(self.lake, "txt")
        expected_txt = self.corpus.expected_artifacts(batch + 1, PAGE_WORDS, FIRST_PAGES)
        if sorted(os.listdir(txt_dir)) != sorted(f"{r}.txt" for r in expected_txt):
            problems.append("artifact set")
        txt_bytes = 0
        for d in docs:
            if d.ok:
                with open(os.path.join(txt_dir, f"{d.record_id}.txt"), encoding="utf-8") as fh:
                    content = fh.read()
                if content != expected_txt[d.record_id]:
                    problems.append(f"artifact {d.record_id}")
                txt_bytes += len(content.encode("utf-8"))
        self.layer[batch] = {
            "docs": float(len(docs)),
            "listed": float(len(rows)),
            "docs_ok": float(sum(d.ok for d in docs)),
            "msgs": float(len(entries)),
            "chunks": float(len(chunks)),
            "txt_bytes": float(txt_bytes),
            "spool_bytes": float(sum(len(json.dumps(c)) for c in sent)),
        }
        stats = os.path.join(self.stats_root, str(batch))
        if os.path.isdir(stats):
            calls = busy = 0.0
            for name in os.listdir(stats):
                with open(os.path.join(stats, name)) as fh:
                    s = json.load(fh)
                calls += s["calls"]
                busy += s["busy_s"]
            self.layer[batch].update(port_calls=calls, port_busy_s=busy)
            # the [B] double-execution guard: one port call per document
            if calls != self.layer[batch]["docs_ok"]:
                problems.append(f"{calls:.0f} port calls")
        self.notifiers.pop(batch).close()
        if problems:
            print(f"perfbench: batch {batch}: {', '.join(problems[:5])}", flush=True)
        return not problems

    def check(self) -> set:
        return set()

    def close(self) -> None:
        for n in self.notifiers.values():
            n.close()


# --- the measured loop --------------------------------------------------------


@dataclass
class OpRecord:
    item: object
    wall_s: float
    ok: bool
    op: str | None = None


def run_pass(ops, tag: str, tracer: Tracer | None) -> list[OpRecord]:
    """One pass over ``ops.pass_items()``; op timing excludes the checks."""
    out = []
    for i, item in enumerate(ops.pass_items()):
        ops.prepare(item)
        op = f"{tag}.{i}"
        raised = False
        if tracer is None:
            t0 = time.perf_counter()
            try:
                ops.run(item)
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
                print(f"perfbench: {item} raised {e!r}"[:400], flush=True)
                raised = True
            rec = OpRecord(item, time.perf_counter() - t0, True)
        else:
            with tracer.span("op", op=op) as s:
                try:
                    ops.run_traced(item, op, tracer)
                except Exception as e:  # noqa: BLE001
                    print(f"perfbench: {item} raised {e!r}"[:400], flush=True)
                    raised = True
            rec = OpRecord(item, s.end - s.start, True, op)
        # checks run outside the operation's job groups
        ops.spark.sparkContext.setJobGroup("perfbench:check", "output check")
        try:
            rec.ok = ops.after(item) and not raised
        except Exception as e:  # noqa: BLE001
            print(f"perfbench: check of {item} raised {e!r}"[:400], flush=True)
            rec.ok = False
        out.append(rec)
    return out


def attribute(ops, tracer: Tracer, stores: SparkStores, records: list[OpRecord]) -> list[dict]:
    """Per-operation layer breakdown, read after the listener bus settled."""
    stores.settle()
    by_op = {}
    for s in tracer.spans:
        if s.op is not None and s.name == "op":
            by_op[s.op] = s
    out = []
    for rec in records:
        span = by_op[rec.op]
        children = tracer.child_time(span)
        build_jobs = stores.group_jobs(f"{rec.op}:build")
        exec_jobs = stores.group_jobs(f"{rec.op}:exec")
        spark = stores.jobs(build_jobs + exec_jobs)
        intervals = spark.pop("intervals")
        row = {
            "op": rec.op,
            "item": rec.item,
            "wall_s": rec.wall_s,
            "build_s": children.get("build", 0.0),
            "exec_s": children.get("exec", 0.0),
            "build_jobs": float(len(build_jobs)),
            **{f"spark.{k}": v for k, v in spark.items()},
            "spark.driver_gap_s": rec.wall_s - covered(intervals, span.start, span.end),
            **stores.python(build_jobs + exec_jobs),
            "spans": {k: v for k, v in children.items() if k not in ("build", "exec")},
        }
        row["unattributed_s"] = row["wall_s"] - row["build_s"] - row["exec_s"]
        if isinstance(ops, QueryOps):
            row["module"] = _module(ops.queries[rec.item])
        else:
            row.update({f"batch.{k}": v for k, v in ops.layer.get(rec.item, {}).items()})
        out.append(row)
    return out


# The per-layer metrics a traced run reports (BENCHMARK.json
# ``per_layer``): every one is defined, and every time is non-zero, on
# both workloads. The Python-worker times are left to the breakdown
# line: doc_etl's port runs under a cached plan, whose SQL metrics
# Spark does not report.
PER_LAYER = {
    "session.start_s": "s",
    "cold_build_s": "s",
    "build_s": "s",
    "build_jobs": "count",
    "exec_s": "s",
    "unattributed_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.sched_delay_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "python.bytes_sent": "bytes",
    "jvm.live_mb": "MB",
    "jvm.hwm_mb": "MB",
    "trace.overhead_pct": "%",
}


def _mean(rows: list[dict], key: str) -> float:
    return statistics.fmean(r[key] for r in rows) if rows else 0.0


def layer_summary(rows: list[dict]) -> dict[str, float]:
    """Per-operation means of the generic layer metrics."""
    keys = (
        "build_s", "build_jobs", "exec_s", "unattributed_s", "spark.jobs", "spark.stages",
        "spark.sched_delay_s", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.shuffle_bytes", "spark.spill_bytes", "spark.driver_gap_s",
        "python.run_s", "python.init_s", "python.bytes_sent",
    )
    return {k: _mean(rows, k) for k in keys}


def module_summary(rows: list[dict]) -> dict[str, float]:
    """``operators.<m>.*`` totals per warm traced pass, for query workloads."""
    out: dict[str, float] = {}
    keys = {
        "build_s": "build_s", "build_jobs": "build_jobs", "exec_s": "exec_s",
        "jobs": "spark.jobs", "stages": "spark.stages", "sched_delay_s": "spark.sched_delay_s",
        "executor_cpu_s": "spark.executor_cpu_s", "shuffle_bytes": "spark.shuffle_bytes",
        "spill_bytes": "spark.spill_bytes",
    }
    passes = len({r["op"].split(".")[0] for r in rows}) or 1
    for r in rows:
        for name, key in keys.items():
            k = f"operators.{r['module']}.{name}"
            out[k] = out.get(k, 0.0) + r[key] / passes
    return out


def doc_summary(rows: list[dict]) -> dict[str, float]:
    """``sources``/``plans``/``ports``/``sinks`` metrics per batch, for doc_etl."""
    n = len(rows) or 1
    tot = lambda k: sum(r.get(k, 0.0) for r in rows)  # noqa: E731
    span = lambda k: sum(r["spans"].get(k, 0.0) for r in rows)  # noqa: E731
    docs_ok = tot("batch.docs_ok") or 1.0
    out_bytes = tot("spark.output_bytes") + tot("batch.txt_bytes") + tot("batch.spool_bytes")
    return {
        "sources.listing_s": span("sources.entrypoints.listing_scan") / n,
        "sources.files_listed": tot("batch.listed") / n,
        "plans.document_etl.run_s": span("plans.document_etl.run_document_etl") / n,
        "ports.transformer.calls": tot("batch.port_calls") / n,
        "ports.transformer.busy_s": tot("batch.port_busy_s") / n,
        "ports.transformer.calls_per_doc": tot("batch.port_calls") / docs_ok,
        "sinks.writers.text_artifacts_s": span("sinks.writers.write_text_artifacts") / n,
        "sinks.writers.merge_metadata_s": span("sinks.writers.merge_metadata") / n,
        "sinks.writers.notify_s": span("sinks.writers.notify") / n,
        "sinks.writers.output_bytes": out_bytes / n,
        "sinks.writers.bytes_per_doc": out_bytes / docs_ok,
        "sinks.writers.msgs_per_chunk": tot("batch.msgs") / (tot("batch.chunks") or 1.0),
    }
