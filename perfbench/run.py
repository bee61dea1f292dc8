"""End-to-end benchmark of the CLI's two paths: index build and BM25 top-k.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (one client, closed loop, one process at ``local[<cores>]``):

* ``ingest`` -- ``index_store.build_persistent`` into a fresh directory, then
  ``load_index``: the path ``main.py build`` runs. After each build the loaded
  index answers a probe subset (the first query of each class) on both
  engines, and every answer is checked.
* ``search`` -- one persistent build in set-up (without the forward index,
  which queries never read), then passes in qid order over every fifth query
  of the 50-query reference set. Each query runs through ``fulltext.top_k``
  (the ``--engine dataframe`` path), then ``wand.wand_topk`` (the CLI
  default).

Before timed queries the per-index term-stats and prefix memo is filled for
them and one other query runs untimed on both engines, as a warm pass would.
A run repeats whole iterations (ingest) or passes (search) until ``--seconds``
have gone by, at least one.

Inputs are a pure function of ``--corpus-seed``, ``--rows`` and
``--query-seed``, which have pinned defaults, so every ``--seed`` times the
same work: the synthetic code corpus (``corpus.materialize_corpus``, natural
key ``repo,path,commit``) and the query set (``queryset.generate_queries``
over the corpus term statistics).
Every timed answer is compared with the DuckDB oracle
(``oracles.fulltext_topk_sql`` over the raw content, doc identities from
``build.prepare_docs``), computed once before the timed loop; an exception or
a mismatch counts as failed, and so does a manifest whose ``n_docs`` is not
the row count.

``setup_s`` is session start plus, on ``search``, the set-up build, load and
warm-up; corpus generation and the oracle are not in it. Every timed build
starts with Spark's cache empty, so none reuses a relation an earlier step
cached.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on Spark's event log, runs every call
under its own job group, and reports the per-layer metrics instead (see
``layers.py``). The spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

import numpy as np

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

ROWS = 1000
CORPUS_SEED = 42
QUERY_SEED = 42
# 1000 rows / 128 = 8 doc-partitions: twice the cores of a 4-core machine.
# A cold persistent build of this corpus takes ~25 s and a query ~0.5-1 s,
# almost all of it fixed Spark cost; larger corpora do not fit the time budget.
CAPACITY = 128
NATURAL_KEY = ["repo", "path", "commit"]
K = 100
CLASSES = [
    ("single_common", range(0, 10)),
    ("single_rare", range(10, 20)),
    ("and", range(20, 35)),
    ("or", range(35, 40)),
    ("and_not", range(40, 45)),
    ("prefix", range(45, 50)),
]
PROBES = [r.start for _, r in CLASSES]  # ingest: first query of each class
# search: every fifth query of the reference set (10 of 50, every class
# present). Both engines over all 50 take ~75 s a pass on 4 cores; the time
# budget (48 runs in 3420 s, set-up and oracle included) holds a fifth of that.
SEARCH = list(range(0, 50, 5))
# untimed warm-up before timed queries: the first query in a JVM pays code
# generation (~2.5 s against ~0.8 s warm). Not among the timed queries.
WARM = [1]
E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_content_byte": "ratio",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "wand_p50_ms": "ms",
    "wand_p95_ms": "ms",
}
# the end-to-end metrics of the result line (BENCHMARK.json end_to_end). The
# p95s are printed but not gated: a run times 10 queries per engine on
# search and 6 on ingest, so no sample lies beyond p95 often enough to bound.
GATED = ["setup_s", "build_docs_per_s", "index_bytes_per_content_byte",
         "query_p50_ms", "wand_p50_ms"]


def class_of(qid: str) -> str:
    i = int(qid[1:])
    return next(name for name, r in CLASSES if i in r)


def pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "search"])
    ap.add_argument("--seed", type=int, default=42,
                    help="run label; the inputs come from the pinned seeds below")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--rows", type=int, default=ROWS)
    ap.add_argument("--corpus-seed", type=int, default=CORPUS_SEED)
    ap.add_argument("--query-seed", type=int, default=QUERY_SEED)
    ap.add_argument("--corrupt", type=int, default=0,
                    help="self-test only: corrupt this many answers before checking")
    return ap.parse_args(argv)


def machine() -> dict:
    """local[<usable cores>] and a driver heap of a quarter of the machine's
    memory, capped at 4 GB (the 1000-row corpus needs far less). MemTotal,
    not MemAvailable, so the heap does not change from run to run."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return {"cpus": cpus, "heap": f"{heap_gb}g"}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")  # skip .crc checksum side files
    )


class Oracle:
    """DuckDB over the raw content, doc identities from ``prepare_docs``: the
    corpus term statistics and ``oracles.fulltext_topk_sql`` answers."""

    def __init__(self, docs_pd):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("docs_pd", docs_pd)
        self.con.execute(
            "CREATE TABLE documents AS SELECT doc_key AS doc_id, content AS text FROM docs_pd"
        )

    def term_df(self) -> list[tuple[str, int]]:
        from miru_spark.tokenize import duckdb_tokens_sql

        return self.con.execute(
            "SELECT term, count(DISTINCT doc_id) FROM (SELECT doc_id, "
            f"unnest({duckdb_tokens_sql('text')}) AS term FROM documents) GROUP BY term"
        ).fetchall()

    def answer(self, spec) -> list[tuple[int, float]]:
        from miru_spark.oracles import fulltext_topk_sql

        return [(int(d), float(sc)) for d, sc in self.con.execute(fulltext_topk_sql(spec)).fetchall()]


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.attempted = 0
        self.failed = 0
        self.corrupt_left = args.corrupt
        self.build_s: list[float] = []
        self.index_bytes: list[int] = []
        self.lat: dict[str, list[float]] = {"fulltext": [], "wand": []}
        self.spark = None
        self.builds: list = []  # (span, index_dir) of traced builds
        self.queries: list = []  # per-query trace records
        self.extra: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def start_session(self):
        from miru_spark.session import get_spark

        self.mach = machine()
        self.log_dir = os.path.join(self.work, "eventlog")
        conf = {
            "spark.driver.memory": self.mach["heap"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.log_dir,
            })
        self.spark = get_spark(
            "perfbench", master=f"local[{self.mach['cpus']}]", extra_conf=conf
        )
        from spans import Tracer

        self.tr = Tracer(self.spark.sparkContext, bool(self.args.trace))

    def inputs(self):
        """Corpus, query set and oracle answers; untimed, and nothing this
        step caches in Spark outlives it."""
        from miru_spark.corpus import materialize_corpus
        from miru_spark.filters import parse_query
        from miru_spark.operators.build import prepare_docs
        from miru_spark.queryset import generate_queries

        a = self.args
        corpus_path = os.path.join(self.work, "corpus.parquet")
        with self.tr.span("setup.corpus"):
            materialize_corpus(self.spark, a.rows, corpus_path, a.corpus_seed)
            self.src = self.spark.read.parquet(corpus_path)
        with self.tr.span("setup.oracle"):
            cached: list = []
            n_parts = max(1, -(-a.rows // CAPACITY))
            docs_pd = (
                prepare_docs(self.src, "content", None, NATURAL_KEY, CAPACITY, n_parts,
                             tracker=cached)
                .select("doc_key", "content")
                .toPandas()
            )
            for df in cached:
                df.unpersist(blocking=True)
            self.content_bytes = int(docs_pd["content"].str.encode("utf-8").str.len().sum())
            oracle = Oracle(docs_pd)
            qset = generate_queries(oracle.term_df(), seed=a.query_seed, k=K)
            self.queries_spec = [
                (q["qid"], q["query"], q["scorer"],
                 parse_query(q["query"], k=q["k"], scorer=q["scorer"]))
                for q in qset
            ]
            picked = PROBES if a.workload == "ingest" else SEARCH
            self.timed = [self.queries_spec[i] for i in picked]
            self.expected = {q[0]: oracle.answer(q[3]) for q in self.timed}

    def setup_search(self):
        """The search workload's index: built (without the forward index,
        which queries never read), loaded and warmed."""
        self.idx = self.build(os.path.join(self.work, "index"), forward_index=False)
        self.warm(self.idx)

    # ------------------------------------------------------------ operations
    def check(self, got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
        self.attempted += 1
        if self.corrupt_left > 0:
            self.corrupt_left -= 1
            got = got[1:] + [(-1, 0.0)]
        if got != want:
            self.failed += 1
            return False
        return True

    def build(self, index_dir: str, forward_index: bool = True):
        """build_persistent + load_index, timed; checks the manifest."""
        from miru_spark import index_store
        from spans import ActionProbe

        a = self.args
        shutil.rmtree(index_dir, ignore_errors=True)
        # a cold build: no relation cached by the oracle or an earlier build
        # (build_persistent caches its docs and never frees them)
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            with self.tr.span("index_store.build") as sp:
                probe = ActionProbe(self.tr, index_store) if sp else nullcontext()
                with probe:
                    index_store.build_persistent(
                        self.src, index_dir, text_col="content",
                        natural_key=NATURAL_KEY, capacity=CAPACITY,
                        hot_df_threshold=max(200, a.rows // 10),
                        forward_index=forward_index,
                    )
            with self.tr.span("index_store.load"):
                idx = index_store.load_index(self.spark, index_dir)
        except Exception as e:  # a failed build is a failed operation
            print(f"build failed: {e!r}", file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return None
        self.build_s.append(time.perf_counter() - t0)
        self.attempted += 1
        with open(os.path.join(index_dir, "manifest.json")) as f:
            manifest = json.load(f)
        n_docs = manifest["stage_info"]["ready"]["n_docs"]
        if n_docs != a.rows:
            self.failed += 1
        self.index_bytes.append(dir_bytes(index_dir))
        self.manifest = manifest
        if sp is not None:
            self.builds.append((sp, index_dir))
        return idx

    def prime(self, idx, specs):
        """Fill the per-index prefix and term-stats memo for ``specs``, as a
        warm pass would: one Spark job per prefix, one for all term stats."""
        from miru_spark.operators import fulltext

        with self.tr.span("prime"):
            terms: set[str] = set()
            for spec in specs:
                terms.update(t for t, _, _ in fulltext.expand_clauses(idx, spec))
                terms.update(fulltext.expand_negatives(idx, spec))
            fulltext.term_stats(idx, sorted(terms))

    def warm(self, idx):
        """Prime the memo for the timed queries and the warm-up queries, then
        run the warm-up queries untimed on both engines."""
        from miru_spark.operators import fulltext, wand

        warm = [self.queries_spec[i][3] for i in WARM]
        self.prime(idx, [q[3] for q in self.timed] + warm)
        with self.tr.span("warm"):
            for spec in warm:
                for fn in (fulltext.top_k, wand.wand_topk):
                    fn(idx, spec).collect()

    def query(self, idx, qid: str, text: str, scorer: str, spec, rid: str):
        from miru_spark.filters import parse_query
        from miru_spark.operators import fulltext, wand

        cls = class_of(qid)
        want = self.expected[qid]
        with self.tr.span("query", rid=rid, qid=qid, cls=cls):
            if self.tr.enabled:
                with self.tr.span("filters.parse"):
                    spec = parse_query(text, k=K, scorer=scorer)
            for engine, fn in (("fulltext", fulltext.top_k), ("wand", wand.wand_topk)):
                rec = {"qid": qid, "cls": cls, "engine": engine}
                t0 = time.perf_counter()
                try:
                    with self.tr.span(f"{engine}.plan") as ps:
                        df = fn(idx, spec)
                    with self.tr.span(f"{engine}.exec") as es:
                        rows = df.collect()
                    dt = time.perf_counter() - t0
                except Exception as e:
                    print(f"{qid} {engine} failed: {e!r}", file=sys.stderr)
                    self.attempted += 1
                    self.failed += 1
                    continue
                self.lat[engine].append(dt)
                got = [(int(r["doc"]), float(r["score"])) for r in rows]
                self.check(got, want)
                if ps is not None:
                    rec.update(plan=ps, exec=es, n=len(got),
                               catalyst_ms=catalyst_ms(df))
                    self.queries.append(rec)

    # ------------------------------------------------------------ workloads
    def measure(self):
        a = self.args
        t_end = time.perf_counter() + a.seconds
        it = 0
        if a.workload == "ingest":
            while True:
                with self.tr.span("iteration", rid=f"build{it}"):
                    idx = self.build(os.path.join(self.work, f"index{it}"))
                    if idx is not None:
                        self.warm(idx)
                        for qid, text, scorer, spec in self.timed:
                            self.query(idx, qid, text, scorer, spec, f"{qid}/b{it}")
                        self.last_idx = idx
                it += 1
                if time.perf_counter() >= t_end:
                    break
        else:
            while True:
                with self.tr.span("pass", rid=f"pass{it}"):
                    for qid, text, scorer, spec in self.timed:
                        self.query(self.idx, qid, text, scorer, spec, f"{qid}/p{it}")
                it += 1
                if time.perf_counter() >= t_end:
                    break
            self.last_idx = self.idx
        self.iterations = it

    def e2e(self) -> dict[str, float]:
        out = {
            "build_docs_per_s": self.args.rows / float(np.median(self.build_s)),
            "index_bytes_per_content_byte":
                float(np.median(self.index_bytes)) / self.content_bytes,
            "query_p50_ms": pct(self.lat["fulltext"], 50) * 1e3,
            "query_p95_ms": pct(self.lat["fulltext"], 95) * 1e3,
            "wand_p50_ms": pct(self.lat["wand"], 50) * 1e3,
            "wand_p95_ms": pct(self.lat["wand"], 95) * 1e3,
        }
        return out

    def stop(self):
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def catalyst_ms(df) -> float:
    """analysis + optimization + planning time of the executed plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("miru_spark") is None:
        sys.path.insert(0, ROOT)
        if importlib.util.find_spec("miru_spark") is None:
            print("miru_spark is not importable from the working directory; "
                  "run from the repository root", file=sys.stderr)
            return 2
    run = Run(args)
    os.makedirs(run.work, exist_ok=True)
    # keep every temporary file of the driver, the JVM and Spark in the run dir
    os.environ["TMPDIR"] = run.work
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run.work, "local")
    import tempfile

    tempfile.tempdir = run.work
    try:
        t0 = time.perf_counter()
        run.start_session()
        setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        run.inputs()
        inputs_s = time.perf_counter() - t0
        if args.workload == "search":
            t0 = time.perf_counter()
            run.setup_search()
            setup_s += time.perf_counter() - t0
        run.measure()
        metrics = run.e2e()
        metrics["setup_s"] = setup_s
        if args.trace:
            import layers

            run.extra = layers.extra_measurements(run)
            run.stop()  # flushes the event log
            report = shown = layers.per_layer(run, metrics)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tr.write(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"
            ))
        else:
            report = {k: (metrics[k], E2E_UNITS[k]) for k in E2E_UNITS}
            shown = report
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    n_q = len(run.lat["fulltext"])
    print(f"# workload={args.workload} seed={args.seed} rows={args.rows} "
          f"capacity={CAPACITY} master=local[{run.mach['cpus']}] "
          f"heap={run.mach['heap']} iterations={run.iterations} "
          f"timed_queries_per_engine={n_q} untimed_inputs_s={inputs_s:.1f}")
    print(f"# error_rate={run.failed / max(1, run.attempted):.6f} ratio "
          f"(failed {run.failed} of {run.attempted} operations)")
    for name, (value, unit) in shown.items():
        print(f"{name:44s} {value:16.6f} {unit}")
    if not args.trace:
        report = {k: report[k] for k in GATED}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
