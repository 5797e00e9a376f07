"""sparkrdf benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Inputs are generated from
``--seed`` (off the clock), set-up is timed separately, the workload's
operations run back to back for ``--seconds``, correctness checks run
after the timed loop, and the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1`` runs the
same loop half untraced and half traced and reports per-layer metrics
instead of end-to-end ones (see ``perfbench/README.md``).

Everything the run writes stays under ``.perfbench_work/`` in the checkout,
and every process it starts (the Spark JVM and its Python workers) has
ended before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

WORKLOADS = ("crawl_ingest", "kg_query")
SETUP_REPS = 3

#: pages per measured input, and in the warm-up slice. An ingest op costs
#: about 45 Spark jobs whatever its size (300 -> 2,000 pages moves it from
#: about 8 to 11 s on 4 cores), so the size is set by the run budget.
PAGES = 400
WARMUP_PAGES = 8

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "items_per_s": "1/s",
             "op_p50_s": "s", "op_p90_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- environment --------------------------------------------------------------

def prepare_env(work: str, run_dir: str) -> None:
    """Keep every file the run (and Spark) writes inside the checkout."""
    tmp = os.path.join(work, "tmp")  # shared: the compiled UDF jar is cached here
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARKRDF_NO_SHM"] = "1"
    os.environ.setdefault("SPARKRDF_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None


def spark_conf(run_dir: str, traced: bool) -> dict:
    from perfbench.layertrace import TRACE_CONF

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # a fixed-size heap: peak RSS then reads what the run touches, not
        # when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{os.environ['SPARKRDF_DRIVER_MEM']}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(TRACE_CONF)
    return conf


def start_session(run_dir: str, traced: bool):
    from sparkrdf.hashing import ensure_jvm_hash
    from sparkrdf.session import get_spark

    cpus = os.cpu_count() or 4
    spark = get_spark("perfbench", master=f"local[{cpus}]", **spark_conf(run_dir, traced))
    spark.sparkContext.setLogLevel("ERROR")
    jvm = ensure_jvm_hash(spark)
    return spark, jvm


def jar_sha256(spark) -> str | None:
    jars = spark.sparkContext.getConf().get("spark.jars", "")
    digests = []
    for path in filter(None, jars.split(",")):
        path = path.removeprefix("file:")
        if os.path.exists(path):
            with open(path, "rb") as f:
                digests.append(hashlib.sha256(f.read()).hexdigest())
    return ",".join(digests) or None


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


# -- workloads ----------------------------------------------------------------

def write_input_pages(run_dir, seed) -> tuple[str, str]:
    """The seed's measured pages, and a warm-up slice just past them."""
    from perfbench.inputs import page_range, write_pages

    rows = page_range(seed, PAGES)
    paths = (os.path.join(run_dir, "pages.parquet"),
             os.path.join(run_dir, "warmup_pages.parquet"))
    write_pages(paths[0], rows)
    write_pages(paths[1], range(rows.stop, rows.stop + WARMUP_PAGES))
    return paths


class CrawlIngest:
    """pages parquet -> run_extract_job -> write_graph, the job.py shape."""

    items = "pages"
    #: ops per measured cycle: an op takes most of a short run, and a
    #: median needs more than one
    cycle = 2

    def __init__(self, run_dir, seed):
        self.run_dir, self.seed = run_dir, seed
        self.n = PAGES
        self.pages, self.warm = write_input_pages(run_dir, seed)
        self.k = 0
        self.last = None

    def warm_up(self, spark):
        """Extract and RPT once over the warm-up slice, to the noop sink."""
        from sparkrdf.extract.pipeline import extract_triples
        from sparkrdf.rpt import rpt_transform

        stmts = extract_triples(spark, spark.read.parquet(self.warm))
        graph = rpt_transform(stmts, "kg")
        for key in ("vertices", "edges"):
            graph[key].write.format("noop").mode("overwrite").save()

    def prepare(self, spark, con):
        return {}

    def op(self, spark, tracer=None):
        """One measured ingest into fresh directories; returns (latency,
        pages committed, manifest)."""
        if self.last:
            shutil.rmtree(self.last, ignore_errors=True)
        self.k += 1
        self.last = os.path.join(self.run_dir, "ops", str(self.k))
        t0 = time.perf_counter()
        with traced_calls(tracer):
            manifest = self._ingest(spark, self.pages, self.last)
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt, self.n, manifest

    def _ingest(self, spark, pages_path, out):
        from sparkrdf.io import write_graph
        from sparkrdf.resume import run_extract_job

        tables, _metrics = run_extract_job(
            spark, spark.read.parquet(pages_path), os.path.join(out, "ckpt"),
            run_id="bench", name="kg",
        )
        return write_graph(
            {k: tables[k] for k in ("vertices", "edges", "edge_definitions")},
            os.path.join(out, "graph"), run_id="bench", name="kg",
        )

    def check(self, con, results) -> tuple[int, list[str]]:
        """(failed ops, messages): every op must commit the same graph; the
        last one is checked in full against DuckDB."""
        from perfbench.checks import check_crawl

        first = results[0]
        failed = sum(
            1 for m in results
            if (m["vertices_rows"], m["edges_rows"]) != (first["vertices_rows"], first["edges_rows"])
        )
        msgs = check_crawl(con, self.pages, os.path.join(self.last, "ckpt"),
                           os.path.join(self.last, "graph"), self.n, self.seed)
        if msgs:
            failed = max(failed, 1)
        return failed, msgs

    def prefix_layers(self, spark, tracer):
        """Lazy extract/RPT layers, each as the delta between successive
        prefixes materialized to the noop sink."""
        from pyspark.sql import functions as F

        from sparkrdf.extract.link import link_mentions
        from sparkrdf.extract.mint import with_page_iri
        from sparkrdf.extract.ner import detect_mention_surfaces_jvm
        from sparkrdf.extract.pipeline import extract_triples
        from sparkrdf.hashing import register_udfs
        from sparkrdf.rpt import rpt_transform

        def pages():
            return spark.read.parquet(self.pages)

        stmts_path = os.path.join(self.last, "ckpt", "stages", "statements")
        farmhash, _ = register_udfs()
        chain = [
            ("extract.scan", lambda: pages()),
            ("extract.mint", lambda: with_page_iri(pages())),
            ("extract.ner", lambda: detect_mention_surfaces_jvm(with_page_iri(pages()))),
            ("extract.link", lambda: link_mentions(
                spark, detect_mention_surfaces_jvm(with_page_iri(pages())))),
            ("extract.pipeline", lambda: extract_triples(spark, pages())),
        ]
        stmts = lambda: spark.read.parquet(stmts_path)  # noqa: E731
        hashed = lambda: stmts().select(  # noqa: E731
            farmhash(F.col("s")), farmhash(F.col("p")), farmhash(F.col("o")))
        chain += [
            ("stmts.scan", stmts),
            ("hashing", hashed),
            ("stmts.scan", stmts),
            ("rpt", lambda: rpt_transform(stmts(), "kg")["edges"]),
        ]
        return noop_chain(spark, tracer, chain)


class KgQuery:
    """One client session per op: the 7-query mix, back to back in a
    seeded order, over the KG built from the seed's pages.

    A session, not a single query, is the op: the queries' latencies range
    from 0.3 to 4 s and overlap, so the median of single-query latencies
    flips between query types from run to run. Per-query latencies are in
    the run record."""

    items = "queries"
    #: sessions per measured cycle, so a run has a median over more than one
    cycle = 2

    def __init__(self, run_dir, seed):
        import random

        from perfbench.queries import QUERIES

        self.run_dir = run_dir
        self.pages, self.warm = write_input_pages(run_dir, seed)
        self.kg = os.path.join(run_dir, "kg.parquet")
        self.warm_kg = os.path.join(run_dir, "warmup_kg.parquet")
        self.mix = random.Random(seed).sample(sorted(QUERIES), len(QUERIES))
        self.query_latencies: dict[str, list[float]] = {}
        self.kg_build_s = None
        self.expected: dict[str, str] = {}
        self.gates = {}

    def warm_up(self, spark):
        """Two queries over a KG of the warm-up slice. The first set-up also
        builds both KGs; the measured KG's build time is recorded, not a
        metric."""
        from perfbench.queries import QUERIES, build_kg

        if self.kg_build_s is None:
            t0 = time.perf_counter()
            build_kg(spark, self.pages, self.kg)
            self.kg_build_s = time.perf_counter() - t0
            build_kg(spark, self.warm, self.warm_kg)
        for name in ("sparql_select", "pagerank"):
            QUERIES[name][1](spark, spark.read.parquet(self.warm_kg)).collect()

    def prepare(self, spark, con):
        """Untimed: every query once over the warm-up KG (a query's first
        run in a JVM costs seconds of one-off compilation), then the DuckDB
        answer to every query and the gated calls' inputs."""
        from perfbench.queries import QUERIES, gate_inputs, oracle_sql

        for _layer, build in QUERIES.values():
            build(spark, spark.read.parquet(self.warm_kg)).collect()

        glob = os.path.join(self.kg, "*.parquet")
        for name, sql in oracle_sql(glob).items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            self.expected[name] = _hash(cols, cur.fetchall())
        self.gates = gate_inputs(con, glob)
        return {"kg_build_s": self.kg_build_s, "gates": self.gates}

    def op(self, spark, tracer=None):
        """One session: every query of the mix; returns (latency, queries,
        [(query, result hash)])."""
        from perfbench.queries import QUERIES

        answers, busy = [], 0.0
        for name in self.mix:
            layer, build = QUERIES[name]
            q0 = time.perf_counter()
            with tracer.span(layer) if tracer else contextlib.nullcontext():
                df = build(spark, spark.read.parquet(self.kg))
                rows = df.collect()
            dt = time.perf_counter() - q0
            busy += dt
            self.query_latencies.setdefault(name, []).append(dt)
            # hashing the answer is the benchmark's cost: off the clock
            answers.append((name, _hash(df.columns, rows)))
        return busy, len(answers), answers

    def check(self, con, results):
        """(failed sessions, messages): each answer must hash like DuckDB's."""
        bad = {name for answers in results for name, h in answers if h != self.expected[name]}
        failed = sum(1 for answers in results if any(h != self.expected[n] for n, h in answers))
        return failed, [f"{name}: result hash differs from DuckDB" for name in sorted(bad)]


def _hash(cols, rows) -> str:
    from tools.check_oracle import value_hash

    return value_hash(list(cols), rows)


def noop_chain(spark, tracer, chain) -> list[tuple[str, dict]]:
    """Materialize each prefix to the noop sink in its own span; the
    caller takes each layer as the delta to the prefix before it."""
    spans = []
    for layer, build in chain:
        with tracer.span("prefix:" + layer) as rec:
            build().write.format("noop").mode("overwrite").save()
        spans.append((layer, rec))
        spark.catalog.clearCache()
    return spans


# -- measurement --------------------------------------------------------------

def quantile(values, q):
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[round(q * 100) - 1]


def timed_loop(workload, spark, seconds, tracer=None):
    """Closed loop: the next operation starts when the previous one ends;
    runs whole cycles of the workload's mix for at least ``seconds``.
    Returns (latencies of completed ops, items, results, failed ops)."""
    lat, items, results, failed = [], 0, [], 0
    end = time.perf_counter() + seconds
    cycle = getattr(workload, "cycle", 1)
    while time.perf_counter() < end or (len(lat) + failed) % cycle:
        try:
            dt, n, res = workload.op(spark, tracer)
        except Exception:  # a failed operation counts against error_rate
            traceback.print_exc()
            failed += 1
            if failed >= 3 and not lat:
                raise
            continue
        lat.append(dt)
        items += n
        results.append(res)
    return lat, items, results, failed


@contextlib.contextmanager
def traced_calls(tracer):
    """Spans around the eager public calls an ingest makes (no-op without
    a tracer): the resumable stages, and the graph writer's counts,
    lineage appends and table writes."""
    if tracer is None:
        yield
        return
    import sparkrdf.io as sio
    import sparkrdf.resume as sres

    targets = [
        (sres.ResumableJob, "stage", "resume"),
        (sres.ResumableJob, "multi_stage", "resume"),
        (sres, "partition_counts", "io.write"),
        (sres, "write_lineage", "io.write"),
        (sio, "partition_counts", "io.write"),
        (sio, "write_lineage", "io.write"),
        (sio, "write_graph", "io.write"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, layer in targets:
            setattr(owner, attr, tracer.wrap(layer, getattr(owner, attr)))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, run_dir)
    from perfbench import checks

    steal0, wall0 = steal_jiffies(), time.perf_counter()
    phases = {}
    cls = CrawlIngest if args.workload == "crawl_ingest" else KgQuery
    workload = cls(run_dir, args.seed)
    con = checks.connect()
    traced = bool(args.trace)
    phases["inputs_s"] = time.perf_counter() - wall0

    # set-up, several times: session (JVM, UDF jar, registration) + warm-up
    setups, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark, jvm = start_session(run_dir, traced)
        workload.warm_up(spark)
        setups.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    try:
        t0 = time.perf_counter()
        record = {"prepare": workload.prepare(spark, con)}
        phases["prepare_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()

        if traced:
            from perfbench.layertrace import Tracer

            lat0, _, res0, failed0 = timed_loop(workload, spark, args.seconds / 2)
            tracer = Tracer(spark)
            lat, items, res, failed = timed_loop(workload, spark, args.seconds / 2, tracer)
            results, failed = res0 + res, failed + failed0
            bad, msgs = workload.check(con, results)
            pending = workload.prefix_layers(spark, tracer) if cls is CrawlIngest else []
            tracer.resolve()
            layers = layer_metrics(tracer, pending, workload, statistics.median(setups), jvm)
            layers["trace.overhead_pct"] = 100.0 * (
                statistics.median(lat) / statistics.median(lat0) - 1.0)
        else:
            lat, items, results, failed = timed_loop(workload, spark, args.seconds)
            bad, msgs = workload.check(con, results)
        attempted, failed = len(results) + failed, failed + bad
        phases["measure_check_s"] = time.perf_counter() - t0

        wall = time.perf_counter() - wall0
        cpus = os.cpu_count() or 4
        metrics = {
            "setup_s": statistics.median(setups),
            "peak_rss_mb": jvm_peak_rss_mb(spark),
            "items_per_s": items / sum(lat),
            "op_p50_s": quantile(lat, 0.5),
            "op_p90_s": quantile(lat, 0.9),
        }
        record.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "items": workload.items,
            "hashing.jvm": int(bool(jvm)),
            "udf_jar_sha256": jar_sha256(spark),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "nproc": cpus,
            "steal_pct": 100.0 * (steal_jiffies() - steal0) / 100.0 / (wall * cpus),
            "setup_reps_s": setups,
            "phases_s": phases,
            "op_latencies_s": lat,
            "query_latencies_s": getattr(workload, "query_latencies", None),
            "samples": len(lat),
            "error_rate": failed / attempted,
            "errors": msgs,
            "e2e": metrics,
        })
    finally:
        spark.stop()
        con.close()
    shutil.rmtree(run_dir, ignore_errors=True)
    if traced:
        record["layers"] = layers
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print("RECORD " + json.dumps(record, sort_keys=True))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


# -- per-layer metrics ----------------------------------------------------------

#: layer -> the span metrics reported for it (the ones that apply)
LAYERS = {
    "session": ("wall_s",),
    "extract.mint": ("wall_s", "driver_s", "jobs", "executor_s", "exchanges"),
    "extract.ner": ("wall_s", "driver_s", "jobs", "executor_s", "exchanges"),
    "extract.link": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
                     "skew", "exchanges"),
    "extract.pipeline": ("wall_s", "driver_s", "jobs", "executor_s",
                         "shuffle_write_bytes", "spill_bytes", "skew", "exchanges"),
    "hashing": ("wall_s", "driver_s", "jobs", "executor_s", "exchanges"),
    "rpt": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
            "spill_bytes", "skew", "exchanges"),
    "resume": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
               "spill_bytes", "skew", "exchanges"),
    "io.write": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
                 "spill_bytes", "skew", "exchanges"),
    "sparql": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
               "spill_bytes", "skew", "exchanges"),
    "query": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
              "spill_bytes", "skew", "exchanges"),
    "reason": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
               "spill_bytes", "skew", "exchanges"),
    "graphops": ("wall_s", "driver_s", "jobs", "executor_s", "shuffle_write_bytes",
                 "spill_bytes", "skew", "exchanges"),
}

#: run-record counts also reported per layer
EXTRA_LAYER_METRICS = {
    "hashing.jvm": "count",
    "query.describe_cbd_gate_rows": "count",
    "graphops.pagerank_gate_rows": "count",
    "trace.overhead_pct": "%",
}

_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "executor_s": "s",
          "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "skew": "ratio",
          "exchanges": "count"}


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{m}", _UNITS[m]) for layer, ms in LAYERS.items() for m in ms]
    return names + list(EXTRA_LAYER_METRICS.items())


def layer_unit(name: str) -> str:
    return dict(per_layer_names())[name]


def layer_metrics(tracer, pending, workload, setup_s, jvm) -> dict:
    """Every per-layer metric; a layer this workload never calls reads 0."""
    from perfbench.layertrace import METRICS, span_delta

    totals = {layer: {m: 0 for m in METRICS} for layer in LAYERS}
    totals.update({k: v for k, v in tracer.layer_totals().items() if k in LAYERS})
    prev = None
    for layer, rec in pending:
        m = rec["metrics"]
        if layer.endswith(".scan"):
            prev = m
            continue
        totals[layer] = span_delta(m, prev)
        prev = m
    totals["session"]["wall_s"] = setup_s
    out = {f"{layer}.{m}": float(totals[layer][m]) for layer, ms in LAYERS.items() for m in ms}
    gates = getattr(workload, "gates", {}) or {}
    out["hashing.jvm"] = float(bool(jvm))
    out["query.describe_cbd_gate_rows"] = float(
        gates.get("describe_cbd", {}).get("bnode_edges", 0))
    out["graphops.pagerank_gate_rows"] = float(
        gates.get("pagerank", {}).get("directed_edges", 0))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import sparkrdf  # noqa: F401
    except ImportError:
        print("perfbench: run from the root of a sparkrdf checkout", file=sys.stderr)
        return 2
    from perfbench import procs

    procs.adopt_orphans()
    # a SIGTERM unwinds like an error, so the processes are still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args)
    finally:
        procs.stop_all()
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # the checkout root, not this script's directory, goes first: the
    # benchmark imports the program under test and itself as ``perfbench``
    sys.path[0] = os.getcwd()
    sys.exit(main())
