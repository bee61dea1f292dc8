"""Per-layer metrics of a traced run (``run.py --trace 1``).

Layers are named after the modules the benchmark calls into. Every number
comes from outside the library: span timings around the benchmark's own
calls, Spark's event log summed per job group, and a few side measurements
(:func:`extra_measurements`) that call public functions directly.
"""

from __future__ import annotations

import os
import time

import numpy as np

from run import CAPACITY, CLASSES, E2E_UNITS, NATURAL_KEY, dir_bytes
from spans import GroupSums, read_event_log, union_length

ENGINES = ("fulltext", "wand")
INDEX_PHASES = (
    "digest", "segments_write", "doclens_write", "forward_write", "counters",
    "merge_write", "stats_write",
)
INDEX_DIRS = ("segments", "forward", "postings", "doclens", "stats")
# index subdirectory a write lands in -> build phase
WRITE_PHASE = {
    "segments": "segments_write", "doclens": "doclens_write",
    "forward": "forward_write", "postings": "merge_write",
    "stats": "stats_write",
}
# statement in build_persistent that issued a collect/count -> build phase
STMT_PHASE = {
    "n_parts": "digest", "frow": "digest", "parts": "digest",
    "seg_counts": "counters", "doc_counts": "counters", "row": "stats_write",
}
SPARK_SUMS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("fetch_wait_s", "s"),
    ("spill_bytes", "bytes"),
)
# end-to-end values as a traced run measures them: traced minus untraced is
# the tracing overhead (overhead.py)
TRACED = [k for k in E2E_UNITS if k != "index_bytes_per_content_byte"]


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    u: dict[str, str] = {}
    for p in ("build", *INDEX_PHASES, "unattributed", "load"):
        u[f"index_store.{p}_s"] = "s"
    for d in INDEX_DIRS:
        u[f"index_store.bytes_{d}"] = "bytes"
    u.update({
        "build.fused_s": "s", "build.id_assign_s": "s", "build.tokenize_s": "s",
        "build.pack_s": "s", "build.postings": "count", "build.packed_rows": "count",
    })
    for name, unit in SPARK_SUMS:
        u[f"spark.{name}"] = unit
    for eng, prefix in (("fulltext", ""), ("wand", "wand_")):
        u[f"spark.{prefix}jobs_per_query"] = "count"
        u[f"spark.{prefix}driver_gap_ms"] = "ms"
    for name in ("filters.parse_ms", "fulltext.plan_ms", "wand.plan_ms",
                 "fulltext.plan_jobs", "wand.plan_jobs", "catalyst.plan_ms",
                 "catalyst.wand_plan_ms"):
        unit = "count" if name.endswith("jobs") else "ms"
        u[f"{name}.p50"] = unit
        u[f"{name}.sum"] = unit
    for eng in ENGINES:
        for cls, _ in CLASSES:
            u[f"{eng}.exec_ms.{cls}"] = "ms"
    for prefix in ("", "wand_"):
        u[f"scan.{prefix}records_read_per_query"] = "count"
        u[f"scan.{prefix}bytes_read_per_query"] = "bytes"
        u[f"scan.{prefix}records_per_result"] = "ratio"
    u["codec.decode_postings_per_s"] = "postings/s"
    for name in TRACED:
        u[f"traced.{name}"] = E2E_UNITS[name]
    return u


def extra_measurements(run) -> dict[str, float]:
    """Build-layer and codec numbers measured by direct calls, after the
    timed loop: the fused in-memory build, the sort-path decomposition into
    a noop sink, and the varint decode rate of the query terms' postings."""
    from miru_spark import codec
    from miru_spark.operators import build as B
    from miru_spark.operators import fulltext
    from pyspark.sql import functions as F

    spark, src, tr, a = run.spark, run.src, run.tr, run.args
    out: dict[str, float] = {}
    # each build below starts cold, reusing nothing the timed loop cached
    spark.catalog.clearCache()
    with tr.span("build.fused") as s:
        idx = B.build_index(
            src, text_col="content", natural_key=NATURAL_KEY, capacity=CAPACITY,
            hot_df_threshold=max(200, a.rows // 10), cache=True, strategy="fused",
        )
        out["build.packed_rows"] = float(idx.packed.count())
    idx.unpersist()
    out["build.fused_s"] = s.dur

    # cumulative pipelines, each into a noop sink; a step's self time is its
    # run minus the run of the pipeline before it. prepare_docs caches its
    # key-to-id window; the cache is emptied before each run, so every step
    # assigns ids anew and fills it as the build does.
    spark.catalog.clearCache()
    cached: list = []
    n_parts = max(1, -(-a.rows // CAPACITY))
    docs = B.prepare_docs(src, "content", None, NATURAL_KEY, CAPACITY, n_parts,
                          tracker=cached)
    flat = B.flat_postings(docs.repartition(spark.sparkContext.defaultParallelism * 3), "content")
    packed = B.packed_from_flat(flat)
    prev = 0.0
    for step, df in (("id_assign", docs), ("tokenize", flat), ("pack", packed)):
        for c in cached:
            c.unpersist(blocking=True).cache()
        with tr.span(f"build.{step}") as s:
            df.write.format("noop").mode("overwrite").save()
        out[f"build.{step}_s"] = s.dur - prev
        prev = s.dur
    for c in cached:
        c.unpersist(blocking=True)
    out["build.postings"] = float(sum(
        c.get("n_postings", 0)
        for w in run.manifest["waves"].values()
        for c in w["counters"].values()
    ))

    idx = run.last_idx
    with tr.span("codec.fetch"):
        terms: set[str] = set()
        for _, _, _, spec in run.timed:
            terms.update(t for t, _, _ in fulltext.expand_clauses(idx, spec))
            terms.update(fulltext.expand_negatives(idx, spec))
        blobs = [
            (bytes(r["ids"]), bytes(r["tfs"]))
            for r in idx.packed.filter(F.col("term").isin(sorted(terms)))
            .select("ids", "tfs").collect()
        ]
    with tr.span("codec.decode"):
        n, t0 = 0, time.perf_counter()
        while True:
            for ib, tb in blobs:
                n += len(codec.delta_unpack(ib))
                codec.tf_unpack(tb)
            if time.perf_counter() - t0 >= 0.5:
                break
        out["codec.decode_postings_per_s"] = n / (time.perf_counter() - t0)
    return out


def _p50_sum(xs: list[float]) -> tuple[float, float]:
    return (float(np.median(xs)) if xs else 0.0, float(np.sum(xs)))


def per_layer(run, traced: dict[str, float]) -> dict[str, tuple[float, str]]:
    tr = run.tr
    groups = read_event_log(run.log_dir)

    def sums(roots) -> GroupSums:
        acc = GroupSums()
        for root in roots:
            for s in tr.subtree(root):
                g = groups.get(tr.group_id(s.id))
                if g is None:
                    continue
                for k, v in vars(g).items():
                    if isinstance(v, list):
                        getattr(acc, k).extend(v)
                    else:
                        setattr(acc, k, getattr(acc, k) + v)
        return acc

    m: dict[str, float] = dict(run.extra)

    # index_store: each build's action spans, attributed to phases
    phase_tot = {p: 0.0 for p in INDEX_PHASES}
    build_tot = 0.0
    for sp, index_dir in run.builds:
        build_tot += sp.dur
        for ch in tr.children(sp):
            phase = None
            g = groups.get(tr.group_id(ch.id))
            for path in (g.write_paths if g else []):
                rel = os.path.relpath(path, index_dir).split(os.sep)[0]
                phase = WRITE_PHASE.get(rel, phase)
            if phase is None:
                phase = STMT_PHASE.get(ch.attrs.get("stmt"))
            ch.attrs["phase"] = phase or "unattributed"
            if phase:
                phase_tot[phase] += ch.dur
    nb = max(1, len(run.builds))
    m["index_store.build_s"] = build_tot / nb
    for p, v in phase_tot.items():
        m[f"index_store.{p}_s"] = v / nb
    m["index_store.unattributed_s"] = (build_tot - sum(phase_tot.values())) / nb
    loads = [s.dur for s in tr.spans if s.name == "index_store.load"]
    m["index_store.load_s"] = float(np.mean(loads))
    last_dir = run.builds[-1][1]
    for d in INDEX_DIRS:
        m[f"index_store.bytes_{d}"] = float(dir_bytes(os.path.join(last_dir, d)))

    # spark: TaskEnd sums over the timed loop
    timed = [s for s in tr.spans if s.name in ("iteration", "pass")]
    g = sums(timed)
    m.update({
        "spark.jobs": g.jobs, "spark.stages": g.stages, "spark.tasks": g.tasks,
        "spark.executor_run_s": g.executor_run_ms / 1e3,
        "spark.executor_cpu_s": g.executor_cpu_ns / 1e9,
        "spark.gc_s": g.gc_ms / 1e3,
        "spark.shuffle_write_bytes": g.shuffle_write_bytes,
        "spark.fetch_wait_s": g.fetch_wait_ms / 1e3,
        "spark.spill_bytes": g.spill_bytes,
    })

    # per query, per engine
    m["filters.parse_ms.p50"], m["filters.parse_ms.sum"] = _p50_sum(
        [s.dur * 1e3 for s in tr.spans if s.name == "filters.parse"]
    )
    for eng, prefix in (("fulltext", ""), ("wand", "wand_")):
        recs = [q for q in run.queries if q["engine"] == eng]
        plan_g = [sums([q["plan"]]) for q in recs]
        exec_g = [sums([q["exec"]]) for q in recs]
        m[f"{eng}.plan_ms.p50"], m[f"{eng}.plan_ms.sum"] = _p50_sum(
            [q["plan"].dur * 1e3 for q in recs]
        )
        m[f"{eng}.plan_jobs.p50"], m[f"{eng}.plan_jobs.sum"] = _p50_sum(
            [float(x.jobs) for x in plan_g]
        )
        m[f"catalyst.{prefix}plan_ms.p50"], m[f"catalyst.{prefix}plan_ms.sum"] = _p50_sum(
            [q["catalyst_ms"] for q in recs]
        )
        for cls, _ in CLASSES:
            xs = [q["exec"].dur * 1e3 for q in recs if q["cls"] == cls]
            m[f"{eng}.exec_ms.{cls}"] = float(np.median(xs)) if xs else 0.0
        n = max(1, len(recs))
        m[f"spark.{prefix}jobs_per_query"] = sum(
            p.jobs + e.jobs for p, e in zip(plan_g, exec_g)
        ) / n
        gaps = [
            (q["exec"].dur - union_length(e.job_intervals, q["exec"].start, q["exec"].end)) * 1e3
            for q, e in zip(recs, exec_g)
        ]
        m[f"spark.{prefix}driver_gap_ms"] = float(np.median(gaps)) if gaps else 0.0
        records = sum(p.records_read + e.records_read for p, e in zip(plan_g, exec_g))
        m[f"scan.{prefix}records_read_per_query"] = records / n
        m[f"scan.{prefix}bytes_read_per_query"] = sum(
            p.bytes_read + e.bytes_read for p, e in zip(plan_g, exec_g)
        ) / n
        m[f"scan.{prefix}records_per_result"] = records / max(
            1, sum(q["n"] for q in recs)
        )

    for name in TRACED:
        m[f"traced.{name}"] = traced[name]
    units = metric_units()
    return {k: (float(m[k]), units[k]) for k in units}
