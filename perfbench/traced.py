"""The traced run: per-layer numbers measured from outside the program.

In a session whose event log is on: one input set-up, the engine init
and an untraced warm-up pass; then, with spans installed
(``spans.Tracer``), a fresh engine init (crawl: ``CrawlEngine.init``)
and one timed pass; then, with the spans removed, an untraced reference
pass for the tracing overhead. Only the timed pass feeds the metrics,
except ``wave.init_s``. The
event log is reduced per span label (``eventlog``) and joined with the
spans; single-thread timings of the page extractor and the URL
canonicaliser on a fixed sample of the workload's own pages complete
the picture. Every per-layer metric is reported on every workload; a
layer the workload does not run reports 0.

Spans, the per-span x operator-kind table and the event log stay under
``.perfbench/trace/<workload>-s<seed>/``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import eventlog
from stats import median, self_time
from spans import LABEL_PREFIX, Tracer
from sparkenv import WORK, declared_metrics, nproc, start_session, stop_everything
from workloads import INPUT_TABLE, plain

SNAPSHOT_TABLES = ("results", "seen", "bloom", "frontier", "metrics")

# (module, function) of the public entry points spanned in the traced
# pass: those the crawl and webtext passes call. For lazy functions the
# span is plan-construction time only; the default_* models are trained
# once per process, so after set-up their spans show cache hits.
OPERATOR_TARGETS = (
    ("downloader_spark.operators.dedup", "drop_repeated_spans"),
    ("downloader_spark.operators.dedup", "minhash_verified_pairs"),
    ("downloader_spark.operators.dedup", "connected_keepers"),
    ("downloader_spark.operators.packing", "pack_token_shards"),
    ("downloader_spark.functions.lm", "score_perplexity"),
    ("downloader_spark.functions.lm", "default_lm"),
    ("downloader_spark.functions.classifier", "score_quality"),
    ("downloader_spark.functions.classifier", "default_classifier"),
    ("downloader_spark.functions.bpe", "bpe_token_count_udf"),
    ("downloader_spark.functions.bpe", "default_merges"),
    ("downloader_spark.functions.repetition_arrow", "with_repetition_arrow"),
    ("downloader_spark.operators.similarity", "ivf_topk"),
    ("downloader_spark.operators.semdedup", "semantic_dedup"),
    ("downloader_spark.operators.semdedup", "default_semdedup_centroids"),
    ("downloader_spark.plans.bloom", "build_bloom"),
    ("downloader_spark.plans.bloom", "merge_blooms"),
    ("downloader_spark.plans.bloom", "bloom_maybe_seen"),
    ("downloader_spark.plans.politeness", "build_robots_dim"),
    ("downloader_spark.plans.politeness", "with_politeness"),
)


def op_span_name(module: str, fn: str) -> str:
    return f"op.{module.rsplit('.', 1)[-1]}.{fn}"


def install_targets(tracer: Tracer) -> None:
    def commit_name(_self, _df, table, *a, **kw):
        return f"snapshots.commit:{table}"

    tracer.target("downloader_spark.sources.snapshots", "SnapshotWarehouse.commit", commit_name)
    tracer.target("downloader_spark.sources.snapshots", "SnapshotWarehouse.read", "snapshots.read")
    tracer.target("downloader_spark.plans.wave", "CrawlEngine.run_wave", "wave.run")
    for module, fn in OPERATOR_TARGETS:
        tracer.target(module, fn, op_span_name(module, fn))


def direct_timings(spark, wl) -> dict[str, float]:
    """Single-thread time of extract_page and canonicalize_url on a
    fixed sample (the first 200 pages by url) of the workload's pages,
    and of the links those pages carry. Median of three rounds."""
    from downloader_spark.functions.urlnorm import canonicalize_url
    from downloader_spark.htmlx.convert import extract_page

    if wl.name == "crawl":
        pages = wl.pages
    else:
        from downloader_spark.sources.pagegen import pages_from_documents

        pages = pages_from_documents(spark, wl.sf_dir)
    cols = ["url", "html"] + (["content_type"] if "content_type" in pages.columns else [])
    rows = pages.select(*cols).orderBy("url").limit(200).collect()
    sample = [(r["url"], bytes(r["html"]), r["content_type"] if "content_type" in cols else "text/html")
              for r in rows]
    links = sorted({link for u, h, c in sample
                    for link in extract_page(h, c, url=u, with_links=True).links})[:1000]
    urls = [u for u, _h, _c in sample] + links

    def timed(fn, items):
        rounds = []
        for _ in range(3):
            t0 = time.perf_counter()
            for it in items:
                fn(*it)
            rounds.append(time.perf_counter() - t0)
        return median(rounds)

    extract_s = timed(lambda u, h, c: extract_page(h, c, url=u, with_links=True), sample)
    canon_s = timed(canonicalize_url, [(u,) for u in urls])
    return {
        "htmlx.extract_ms_per_page": extract_s * 1e3 / len(sample),
        "urlnorm.canonicalize_us_per_url": canon_s * 1e6 / len(urls),
    }


def snapshot_writes(warehouse: str, first_wave: int) -> tuple[int, int]:
    """Files and bytes of the snapshots committed by waves >= first_wave."""
    files = nbytes = 0
    for meta_path in glob.glob(os.path.join(warehouse, "*", "_meta.json")):
        table_dir = os.path.dirname(meta_path)
        with open(meta_path) as fh:
            meta = json.load(fh)
        for snap in meta["snapshots"]:
            if (snap.get("wave") or 0) < first_wave:
                continue
            for root, _dirs, fns in os.walk(os.path.join(table_dir, f"snap-{snap['id']:05d}")):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(root, fn))
    return files, nbytes


def layer_metrics(tracer: Tracer, table: dict, ops, nproc: int, pass_t0: float,
                  pass_s: float) -> dict:
    m = {}
    spans = [s for s in tracer.spans if s.start >= pass_t0]  # the timed pass

    def named(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    labelled = {s.label: table.get(s.label) for s in tracer.spans}

    def rows_of(span_list):
        return [labelled[s.label] for s in span_list if labelled.get(s.label)]

    all_rows = rows_of(spans)

    def total(rows, field):
        return sum(r[field] for r in rows)

    def kind_sum(rows, kind, metric):
        return sum(eventlog.kind_total(r, kind, metric) for r in rows)

    for f in ("task_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{f}"] = total(all_rows, f)
    run = kind_sum(all_rows, "python", "time to run Python workers")
    boot = kind_sum(all_rows, "python", "time to start Python workers") + kind_sum(
        all_rows, "python", "time to initialize Python workers")
    m["python.run_s"] = run
    m["python.boot_s"] = boot
    m["python.sent_mb"] = kind_sum(all_rows, "python", "data sent to Python workers") / (1 << 20)
    m["python.received_mb"] = kind_sum(all_rows, "python", "data returned from Python workers") / (1 << 20)
    m["plan.python_s"] = run + boot
    m["plan.exchange_mb"] = kind_sum(all_rows, "exchange", "shuffle bytes written") / (1 << 20)
    m["plan.spill_mb"] = sum(kind_sum(all_rows, k, "spill size") for k in eventlog.KINDS) / (1 << 20)
    m["plan.join_rows_out"] = kind_sum(all_rows, "join", "number of output rows")
    m["plan.agg_rows_out"] = kind_sum(all_rows, "aggregate", "number of output rows")
    m["spark.busy_frac"] = m["spark.task_s"] / (pass_s * nproc)

    # crawl: waves, their commits and reads
    waves = named("wave.run")
    under_waves = [s for w in waves for s in tracer.subtree(w)]
    commits = [s for s in under_waves if s.name.startswith("snapshots.commit:")]
    for t in SNAPSHOT_TABLES:
        m[f"snapshots.commit_s.{t}"] = sum(s.wall for s in commits if s.name.endswith(f":{t}"))
    m["snapshots.commits"] = len(commits)
    m["snapshots.read_s"] = sum(s.wall for s in under_waves if s.name == "snapshots.read")
    m["wave.init_s"] = sum(s.wall for s in tracer.named("wave.init"))  # before the pass
    m["wave.run_s"] = sum(s.wall for s in waves)
    m["wave.self_s"] = sum(
        self_time(w.start, w.end, [
            (c.start, c.end) for c in tracer.children(w) if c.name.startswith("snapshots.commit:")
        ]) for w in waves)
    wave_rows = rows_of(under_waves)
    m["wave.jobs"] = total(wave_rows, "jobs")
    m["wave.tasks"] = total(wave_rows, "tasks")
    m["wave.busy_frac"] = total(wave_rows, "task_s") / (m["wave.run_s"] * nproc) if waves else 0.0
    # time inside the Python workers: the fetched pages' extract UDF and
    # the link canonicaliser
    m["wave.python_frac"] = (
        kind_sum(wave_rows, "python", "time to run Python workers") / (m["wave.run_s"] * nproc)
        if waves else 0.0)
    wm = [o.out for o in ops if o.name.startswith("wave") and o.out is not None]
    m["wave.frontier_in"] = sum(x.n_frontier_in for x in wm)
    m["wave.ok"] = sum(x.n_ok for x in wm)
    m["wave.discovered"] = sum(x.n_discovered for x in wm)
    m["wave.seen_out"] = wm[-1].n_seen_out if wm else 0
    scheduled = sum(x.n_scheduled for x in wm)
    m["wave.ok_ratio"] = m["wave.ok"] / scheduled if scheduled else 0.0

    # queries
    builds = named("query.build:")
    collects = named("query.collect:")
    m["queries.build_s"] = sum(s.wall for s in builds)
    m["queries.collect_s"] = sum(s.wall for s in collects)
    m["queries.build_s_p50"] = median([s.wall for s in builds]) if builds else 0.0
    m["queries.collect_s_p50"] = median([s.wall for s in collects]) if collects else 0.0
    q_rows = rows_of([s for q in builds + collects for s in tracer.subtree(q)])
    n_q = len(builds)
    m["spark.jobs_per_query"] = total(q_rows, "jobs") / n_q if n_q else 0.0
    m["spark.tasks_per_query"] = total(q_rows, "tasks") / n_q if n_q else 0.0
    for s in builds + collects:
        key = f"query.{s.name.split(':', 1)[1]}_s"
        m[key] = m.get(key, 0.0) + s.wall
    # the similarity and semdedup kernels: every job of their queries
    kernels = [s for s in builds + collects
               if INPUT_TABLE.get(s.name.split(":", 1)[1]) == "embeddings"]
    k_rows = rows_of([x for s in kernels for x in tracer.subtree(s)])
    m["kernels.python_s"] = kind_sum(k_rows, "python", "time to run Python workers")
    m["kernels.exchange_mb"] = kind_sum(k_rows, "exchange", "shuffle bytes written") / (1 << 20)
    for module, fn in OPERATOR_TARGETS:
        name = op_span_name(module, fn)
        m[f"{name}_s"] = sum(s.wall for s in named(name) if s.name == name)
    return m


def span_checks(tracer: Tracer, table: dict, nproc: int) -> list[str]:
    """Each span's task time (its own and its descendants' jobs) must
    fit in its wall on nproc cores; small slack for millisecond task
    clocks."""
    bad = []
    for s in tracer.spans:
        rows = [table[x.label] for x in tracer.subtree(s) if x.label in table]
        task_s = sum(r["task_s"] for r in rows)
        if task_s > s.wall * nproc * 1.05 + 0.05:
            bad.append(f"{s.label}: task {task_s:.3f} s > wall {s.wall:.3f} s x {nproc}")
    return bad


def write_outputs(out_dir: str, tracer: Tracer, table: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump(tracer.dump(), fh, indent=1)
    names = {s.label: s for s in tracer.spans}
    with open(os.path.join(out_dir, "span_kinds.tsv"), "w") as fh:
        fh.write("label\tname\twall_s\tjobs\ttasks\ttask_s\tcpu_s\tgc_s\tshuffle_read_mb\t"
                 "shuffle_write_mb\tspill_mb\tkind\tmetric\tvalue\n")
        for label, row in sorted(table.items()):
            span = names.get(label)
            head = [label, span.name if span else "", f"{span.wall:.4f}" if span else ""]
            head += [str(row["jobs"]), str(row["tasks"])] + [
                f"{row[f]:.4f}" for f in ("task_s", "cpu_s", "gc_s", "shuffle_read_mb",
                                          "shuffle_write_mb", "spill_mb")]
            kinds = [(k, n, v) for k, ms in sorted(row["kinds"].items()) for n, v in sorted(ms.items())]
            for k, n, v in kinds or [("", "", 0.0)]:
                fh.write("\t".join(head + [k, n, f"{v:g}"]) + "\n")


def run_traced(wl):
    out_dir = os.path.join(WORK, "trace", f"{wl.name}-s{wl.seed}")
    log_dir = os.path.join(out_dir, "eventlog")
    shutil.rmtree(out_dir, ignore_errors=True)
    n = nproc()
    t0 = time.perf_counter()
    spark = start_session(event_log=log_dir)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    install_targets(tracer)
    try:
        wl.prepare(spark)
        wl.setup(spark)
        wl.init_engine(spark)
        wl.run_pass(spark, plain)  # warm-up, so that the compared passes both run warm
        missing = tracer.install()
        try:
            wl.init_engine(spark, call=tracer.call)  # traced, but outside the pass
            pass_t0 = time.perf_counter()
            ops = wl.run_pass(spark, tracer.call)
            pass_s = time.perf_counter() - pass_t0
        finally:
            tracer.uninstall()
        timed_waves = [o.out.wave for o in ops if wl.name == "crawl" and o.out is not None]
        writes = snapshot_writes(wl.engine.wh.root, min(timed_waves)) if timed_waves else (0, 0)
        direct = direct_timings(spark, wl)
        wl.check(spark, ops)
        # untraced reference for the tracing overhead; it runs on a
        # warmer JVM than the traced pass, so the overhead is an upper bound
        wl.init_engine(spark)
        p0 = time.perf_counter()
        wl.run_pass(spark, plain)
        ref_s = time.perf_counter() - p0
    finally:
        stop_everything(spark)
    logs = glob.glob(os.path.join(log_dir, "*"))
    table = eventlog.reduce_file(logs[0])
    metrics = layer_metrics(tracer, table, ops, n, pass_t0, pass_s)
    metrics.update(direct)
    metrics["session.start_s"] = session_s
    metrics["snapshots.files_written"], metrics["snapshots.bytes_written"] = writes
    metrics["snapshots.bytes_per_page"] = writes[1] / metrics["wave.ok"] if metrics["wave.ok"] else 0.0
    metrics["trace.pass_s"] = pass_s
    metrics["trace.overhead_frac"] = pass_s / ref_s - 1.0
    write_outputs(out_dir, tracer, table)

    violations = span_checks(tracer, table, n)
    unlabelled = table.get(eventlog.UNLABELLED)
    other = [lb for lb in table if lb != eventlog.UNLABELLED and not lb.startswith(LABEL_PREFIX)]
    lines = [
        f"untraced_pass_s\t{ref_s:.4f}\ts",
        f"traced_pass_s\t{pass_s:.4f}\ts",
        f"tracing_overhead\t{pass_s / ref_s - 1.0:.4f}\t1",
        f"spans\t{len(tracer.spans)}\tcount",
        f"unlabelled_jobs\t{unlabelled['jobs'] if unlabelled else 0}\tcount"
        + (f"\t(task_s={unlabelled['task_s']:.3f})" if unlabelled else ""),
        f"other_labels\t{len(other)}\tcount",
        f"trace_dir\t{os.path.relpath(out_dir, os.getcwd())}",
    ]
    lines += [f"MISSING_TARGET\t{t}" for t in missing]
    lines += [f"SPAN_CHECK\t{v}" for v in violations]
    for o in ops:
        if violations and o.ok:
            o.ok, o.error = False, "span task time exceeds wall x nproc"
    result = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
              for name, unit in declared_metrics("per_layer").items()}
    # metrics outside the declared ones (analytics: per-query walls)
    lines += [f"{k}\t{v:.4f}" for k, v in sorted(metrics.items()) if k not in result]
    return ops, result, lines
